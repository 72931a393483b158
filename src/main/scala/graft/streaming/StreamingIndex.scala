package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** Streaming maintenance of the persisted BM25 index
  * ([[graft.operators.Retrieval.buildBm25Index]]): a document stream
  * keeps a live corpus index current batch by batch, so the
  * build-vs-probe separation of q116 extends to continuously
  * arriving data — the batch↔streaming twin for the retrieval
  * family, like [[StreamingIntervals]] is for the interval sweeps.
  *
  * Delivery semantics: Structured Streaming's foreachBatch is
  * at-least-once (a batch RE-RUNS after a crash between the sink
  * action and the checkpoint commit), so the sink is made IDEMPOTENT
  * by batch id — the standard idempotent-foreachBatch pattern from
  * the Structured Streaming guide. Applied batch ids are recorded in
  * a driver-side [[BatchLog]] (one parquet row file per id, no Spark
  * job): `dir/batchlog` for the directory-backed indexes, and
  * `<database location>/batchlog` for BM25; a re-delivered id is a
  * no-op. The marker is written AFTER the index writes commit.
  *
  * The partial-commit window (crash between the index append and the
  * marker write → replay re-appends → duplicates) is CLOSED for the
  * directory-backed IVF, PQ and SQ8 indexes on BOTH paths:
  * appends stage the delta
  * under the batch id (mode overwrite — replay-safe) and commit it
  * into `members` by renaming to DETERMINISTIC `b<id>_<k>` file
  * names, sweeping any same-named leftovers of a crashed attempt
  * first, so a replay converges to exactly one copy of the batch no
  * matter where the previous attempt died; the FIRST (build) batch is
  * covered by the `_built` marker protocol
  * ([[graft.operators.Similarity.writeBuiltMarker]]) — the build
  * writes `dir/_built = batchId` as its last step, so a replay whose
  * id matches the marker knows its build already committed and only
  * re-writes the batchlog, while a replay finding NO marker re-runs
  * the all-overwrite build, which converges over any partial output.
  * For the BM25 index the window remains OPEN: its batchlog is the
  * shared driver-side one, but its three catalog tables
  * (bucketed postings/dfreq + read-modify-write stats) have no
  * per-batch file identity to sweep, and closing it means a staged
  * table swap per batch — the vocabulary-sized rewrite
  * [[graft.operators.Retrieval.compactBm25Index]] already implements
  * as periodic maintenance, deliberately not paid per trigger.
  * StreamingSpec pins (a) true multi-trigger stream == from-scratch
  * batch build probe-for-probe, and (b) re-delivery is a no-op.
  *
  * Scale: every batch costs O(delta) (the append contract of
  * [[graft.operators.Retrieval.appendToBm25Index]]); segment growth
  * is bounded by periodic [[graft.operators.Retrieval
  * .compactBm25Index]], which leaves probes bit-identical.
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
    * wall time (measured, tools/ApplyProfile: an LM apply is 10 jobs /
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
    * would never engage.
    */
  private[graft] def microPlan(batch: DataFrame): DataFrame = {
    val small = batch.queryExecution.analyzed.stats.sizeInBytes <
      MicroBatchMaxBytes
    if (small && batch.rdd.getNumPartitions == 1) batch.coalesce(1) else batch
  }

  /** Apply one micro-batch to the index, idempotently by `batchId`.
    * First-ever batch builds the index; later ones append. Returns
    * true when the batch was applied, false when the id was already
    * in the batchlog (re-delivery) or the batch was empty.
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

  /** foreachBatch sink: keep the `db` BM25 index current from a
    * document stream. Caller owns the database and the checkpoint
    * location (restart with the same checkpoint resumes from the
    * committed offset; the batchlog absorbs the overlap).
    */
  def bm25IndexSink(docs: DataFrame, idCol: String, textCol: String,
      db: String, checkpoint: String, buckets: Int = 0): StreamingQuery =
    docs.writeStream
      .option("checkpointLocation", checkpoint)
      .outputMode("append")
      .foreachBatch { (batch: Dataset[Row], batchId: Long) =>
        applyBm25Batch(batch, idCol, textCol, db, batchId, buckets)
        ()
      }
      .start()

  /** Apply one micro-batch of prepared vectors (vid, qv, nrm — the
    * [[graft.operators.Similarity.prepare]] shape) to a persisted IVF
    * index directory, idempotently by `batchId` — the vector twin of
    * [[applyBm25Batch]]. The FIRST batch trains the coarse quantizer
    * ([[graft.operators.Similarity.buildIvfIndex]]); every later one
    * assigns against the FROZEN centroids and appends delta-sized
    * files (the FAISS-`add` contract q147 pins: frozen-append ≡
    * assigning the union). The batchlog lives inside the index
    * directory as a parquet table, so re-delivered ids no-op.
    */
  def applyIvfBatch(batch: DataFrame, dim: Int, dir: String,
      batchId: Long): Boolean = {
    val spark = batch.sparkSession
    import spark.implicits._
    val logPath = s"$dir/batchlog"
    val fs = new org.apache.hadoop.fs.Path(logPath)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (BatchLog.contains(spark, logPath, batchId)) {
      return false
    }
    val mb = microPlan(batch)
    val applied =
      if (mb.isEmpty) false
      else {
        // build-commit marker protocol (Similarity.writeBuiltMarker):
        // marker == my id → my build committed, only the batchlog is
        // missing — nothing to re-apply; marker == other id (or the
        // batch API's −1) → committed index, append; marker absent →
        // resolveBuiltMarker distinguishes a lost/legacy marker (a
        // logged applied batch proves a committed build → append) from
        // no committed build (a crashed partial one at worst → the
        // all-overwrite build, which converges over any crash point)
        val built = resolveBuiltMarker(spark, dir, fs, "members")
        if (built.contains(batchId)) ()
        else if (built.isDefined) {
          // staged commit (see object scaladoc): overwrite-mode delta
          // under the batch id, then deterministic-rename into members
          val members = new org.apache.hadoop.fs.Path(s"$dir/members")
          val staging = new org.apache.hadoop.fs.Path(s"$dir/staging_b$batchId")
          sweepBatchFiles(fs, members, batchId)
          graft.operators.Similarity.appendIvfIndex(spark, mb, dir,
            stagingPath = Some(staging.toString))
          commitStaged(fs, staging, members, batchId)
        } else graft.operators.Similarity.buildIvfIndex(mb, dim, dir,
          builtBy = batchId)
        true
      }
    BatchLog.append(spark, logPath, batchId, Some(applied))
    applied
  }

  /** Resolve an index dir's build-commit marker, RECOVERING the
    * lost-marker / legacy state: with `_built` absent, the pre-fix
    * behavior sent the next batch down the all-overwrite build path
    * even over a directory full of committed appends (an index built
    * by pre-marker code, or the marker file lost), silently wiping
    * every previously appended batch from members/codes/vectors.
    *
    * Batchlog rows are written strictly AFTER their batch's data
    * commit, so they carry proof the marker can stand in for:
    *  - a logged row with `applied = true` → some batch committed
    *    data, and the FIRST data-carrying batch is always the build →
    *    a build committed. Stamp `_built = -1` (the batch-API owner
    *    id) and take the append path.
    *  - a legacy row predating the `applied` column (reads as null)
    *    counts as the same proof IF the build's final piece has a
    *    committed `_SUCCESS` — legacy code had no marker step between
    *    data commit and batchlog write to crash in.
    *  - no such evidence → the dir holds at worst a crashed partial
    *    build; `None` keeps the converging all-overwrite build.
    *
    * Residual window (documented, vanishingly narrow, legacy dirs
    * only): a legacy dir whose only logged rows are EMPTY batches and
    * whose build crashed exactly between its final piece write and
    * its batchlog append reads as committed and would double-apply
    * that one batch on replay. Post-`applied` dirs close it: a
    * crashed build logs nothing, and empty batches log
    * `applied = false`.
    */
  private def resolveBuiltMarker(spark: org.apache.spark.sql.SparkSession,
      dir: String, fs: org.apache.hadoop.fs.FileSystem,
      finalPiece: String): Option[Long] = {
    val marked = graft.operators.Similarity.readBuiltMarker(spark, dir)
    if (marked.isDefined) return marked
    val logP = new org.apache.hadoop.fs.Path(s"$dir/batchlog")
    if (!fs.exists(logP)) return None
    import spark.implicits._
    // explicit schema: legacy log files lack `applied` (reads null)
    val log = spark.read.schema("batch_id LONG, applied BOOLEAN")
      .parquet(logP.toString)
    val committed =
      !log.filter($"applied" === true).isEmpty ||
        (!log.filter($"applied".isNull).isEmpty &&
          fs.exists(new org.apache.hadoop.fs.Path(s"$dir/$finalPiece/_SUCCESS")))
    if (committed) {
      graft.operators.Similarity.writeBuiltMarker(spark, dir, -1L)
      Some(-1L)
    } else None
  }

  /** Delete any `b<id>_*` files a crashed prior attempt of this batch
    * already moved in — the sweep that makes the rename commit
    * idempotent. Handles both partitioned (cid=X / l1=Y subdirs) and
    * flat parquet dirs; one shallow listing (√C-bounded for the IVF
    * layout), no data read.
    */
  private[graft] def sweepBatchFiles(fs: org.apache.hadoop.fs.FileSystem,
      live: org.apache.hadoop.fs.Path, batchId: Long): Unit = {
    val prefix = s"b${batchId}_"
    if (!fs.exists(live)) return
    fs.listStatus(live).foreach { e =>
      if (e.isDirectory)
        fs.listStatus(e.getPath).foreach { f =>
          if (f.getPath.getName.startsWith(prefix)) { fs.delete(f.getPath, false); () }
        }
      else if (e.getPath.getName.startsWith(prefix)) { fs.delete(e.getPath, false); () }
    }
  }

  /** Move staged delta files into the live tree under deterministic
    * `b<id>_<k>` names (sorted source order; partition subdirs
    * mirrored), then drop the staging dir. Re-running after any crash
    * point re-produces the same destination names over a swept tree,
    * so the commit converges.
    */
  private[graft] def commitStaged(fs: org.apache.hadoop.fs.FileSystem,
      staging: org.apache.hadoop.fs.Path,
      live: org.apache.hadoop.fs.Path, batchId: Long): Unit = {
    fs.mkdirs(live)
    def moveInto(srcDir: org.apache.hadoop.fs.Path,
        destDir: org.apache.hadoop.fs.Path): Unit = {
      val files = fs.listStatus(srcDir)
        .filter(f => f.isFile && !f.getPath.getName.startsWith("_"))
        .sortBy(_.getPath.getName)
      files.zipWithIndex.foreach { case (f, k) =>
        fs.rename(f.getPath,
          new org.apache.hadoop.fs.Path(destDir, s"b${batchId}_$k.parquet")); ()
      }
    }
    moveInto(staging, live)
    fs.listStatus(staging).foreach { part =>
      if (part.isDirectory) { // cid=X / l1=Y partition dirs
        val dest = new org.apache.hadoop.fs.Path(live, part.getPath.getName)
        fs.mkdirs(dest)
        moveInto(part.getPath, dest)
      }
    }
    fs.delete(staging, true); ()
  }

  /** Apply one micro-batch of prepared vectors to a persisted PQ
    * index directory ([[graft.operators.Pq.buildPqIndex]] layout),
    * idempotently by `batchId` — completes the streaming matrix
    * (BM25 / IVF / PQ). First batch trains the codebooks (guarded by
    * the `_built` marker protocol — see [[applyIvfBatch]]); later
    * batches encode against the FROZEN codebooks and append delta
    * files to `codes` and `vectors` through the same staged
    * deterministic-rename commit as [[applyIvfBatch]], so the
    * crash-before-marker window is closed on both paths.
    */
  def applyPqBatch(batch: DataFrame, dir: String, batchId: Long,
      m: Int = 8, dim: Int = 64): Boolean = {
    val spark = batch.sparkSession
    import spark.implicits._
    val logPath = s"$dir/batchlog"
    val fs = new org.apache.hadoop.fs.Path(logPath)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (BatchLog.contains(spark, logPath, batchId)) {
      return false
    }
    val mb = microPlan(batch)
    val applied =
      if (mb.isEmpty) false
      else {
        // build-commit marker protocol — see applyIvfBatch
        val built = resolveBuiltMarker(spark, dir, fs, "vectors")
        if (built.contains(batchId)) ()
        else if (built.isDefined) {
          val staging = new org.apache.hadoop.fs.Path(s"$dir/staging_b$batchId")
          Seq("codes", "vectors").foreach { sub =>
            sweepBatchFiles(fs, new org.apache.hadoop.fs.Path(s"$dir/$sub"), batchId)
          }
          // append reads the recorded (m, k, dim) from the index meta
          graft.operators.Pq.appendPqIndex(spark, mb, dir,
            stagingPath = Some(staging.toString))
          Seq("codes", "vectors").foreach { sub =>
            commitStaged(fs, new org.apache.hadoop.fs.Path(staging, sub),
              new org.apache.hadoop.fs.Path(s"$dir/$sub"), batchId)
          }
          fs.delete(staging, true)
        } else graft.operators.Pq.buildPqIndex(mb, dir, m = m, dim = dim,
          builtBy = batchId)
        true
      }
    BatchLog.append(spark, logPath, batchId, Some(applied))
    applied
  }

  /** Apply one micro-batch of prepared vectors to a persisted SQ8
    * index directory ([[graft.operators.Similarity.buildSq8Index]]
    * layout), idempotently by `batchId` — the scalar-quantization
    * member of the streaming index matrix (BM25 / IVF / PQ / clips /
    * SQ8). First batch trains the per-dimension affine stats (guarded
    * by the `_built` marker protocol — see [[applyIvfBatch]]); later
    * batches encode against the FROZEN stats and append delta files
    * to `codes` and `vectors` through the same staged
    * deterministic-rename commit as [[applyPqBatch]], so the
    * crash-before-marker window is closed on both paths.
    */
  def applySq8Batch(batch: DataFrame, dir: String, batchId: Long): Boolean = {
    val spark = batch.sparkSession
    import spark.implicits._
    val logPath = s"$dir/batchlog"
    val fs = new org.apache.hadoop.fs.Path(logPath)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (BatchLog.contains(spark, logPath, batchId)) {
      return false
    }
    val mb = microPlan(batch)
    val applied =
      if (mb.isEmpty) false
      else {
        // build-commit marker protocol — see applyIvfBatch
        val built = resolveBuiltMarker(spark, dir, fs, "vectors")
        if (built.contains(batchId)) ()
        else if (built.isDefined) {
          val staging = new org.apache.hadoop.fs.Path(s"$dir/staging_b$batchId")
          Seq("codes", "vectors").foreach { sub =>
            sweepBatchFiles(fs, new org.apache.hadoop.fs.Path(s"$dir/$sub"), batchId)
          }
          // append reads the recorded affine stats from the index
          graft.operators.Similarity.appendSq8Index(spark, mb, dir,
            stagingPath = Some(staging.toString))
          Seq("codes", "vectors").foreach { sub =>
            commitStaged(fs, new org.apache.hadoop.fs.Path(staging, sub),
              new org.apache.hadoop.fs.Path(s"$dir/$sub"), batchId)
          }
          fs.delete(staging, true)
        } else graft.operators.Similarity.buildSq8Index(mb, dir,
          builtBy = batchId)
        true
      }
    BatchLog.append(spark, logPath, batchId, Some(applied))
    applied
  }

  /** Apply one micro-batch of documents to a persisted incremental LM
    * ([[graft.operators.LangModel.appendLmCounts]] layout),
    * idempotently by `batchId`. Counts are ADDITIVE, so there is no
    * training stage and no first-batch special case: EVERY batch goes
    * through the staged deterministic-rename commit (the
    * [[applyClipBatch]] shape), the crash-before-marker window is
    * closed everywhere, and a model fed batch-by-batch scores
    * EXACTLY like one trained on the union (value-exact — the q204
    * gate holds the batch oracle verbatim).
    */
  def applyLmBatch(batch: DataFrame, textCol: String, dir: String,
      batchId: Long): Boolean = {
    val spark = batch.sparkSession
    import spark.implicits._
    val logPath = s"$dir/batchlog"
    val fs = new org.apache.hadoop.fs.Path(logPath)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (BatchLog.contains(spark, logPath, batchId)) {
      return false
    }
    val mb = microPlan(batch)
    val applied =
      if (mb.isEmpty) false
      else {
        val staging = new org.apache.hadoop.fs.Path(s"$dir/staging_b$batchId")
        Seq("c12", "c1", "cw").foreach { sub =>
          sweepBatchFiles(fs, new org.apache.hadoop.fs.Path(s"$dir/$sub"), batchId)
        }
        graft.operators.LangModel.appendLmCounts(spark, mb, textCol, dir,
          stagingPath = Some(staging.toString))
        Seq("c12", "c1", "cw").foreach { sub =>
          commitStaged(fs, new org.apache.hadoop.fs.Path(staging, sub),
            new org.apache.hadoop.fs.Path(s"$dir/$sub"), batchId)
        }
        fs.delete(staging, true)
        true
      }
    BatchLog.append(spark, logPath, batchId)
    applied
  }

  /** Apply one micro-batch of documents to a persisted order-3 KN
    * model ([[graft.operators.LangModel.appendLm3Counts]] layout) —
    * the [[applyLmBatch]] shape one order up: trigram counts are
    * ADDITIVE, every batch goes through the staged deterministic-
    * rename commit, and the batch-fed model scores EXACTLY like one
    * trained on the union (every KN-3 statistic derives from the
    * merged c123/cw).
    */
  def applyLm3Batch(batch: DataFrame, textCol: String, dir: String,
      batchId: Long): Boolean = {
    val spark = batch.sparkSession
    import spark.implicits._
    val logPath = s"$dir/batchlog"
    val fs = new org.apache.hadoop.fs.Path(logPath)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (BatchLog.contains(spark, logPath, batchId)) {
      return false
    }
    val mb = microPlan(batch)
    val applied =
      if (mb.isEmpty) false
      else {
        val staging = new org.apache.hadoop.fs.Path(s"$dir/staging_b$batchId")
        Seq("c123", "cw").foreach { sub =>
          sweepBatchFiles(fs, new org.apache.hadoop.fs.Path(s"$dir/$sub"), batchId)
        }
        graft.operators.LangModel.appendLm3Counts(spark, mb, textCol, dir,
          stagingPath = Some(staging.toString))
        Seq("c123", "cw").foreach { sub =>
          commitStaged(fs, new org.apache.hadoop.fs.Path(staging, sub),
            new org.apache.hadoop.fs.Path(s"$dir/$sub"), batchId)
        }
        fs.delete(staging, true)
        true
      }
    BatchLog.append(spark, logPath, batchId)
    applied
  }

  /** Apply one micro-batch of documents to a persisted NEAR-DUP index
    * ([[graft.operators.Dedup.appendNearDupIndex]] layout),
    * idempotently by `batchId` — the dedup member of the streaming
    * index matrix, in the [[applyLmBatch]] shape: postings and
    * shingle sets are row-additive (no build phase), every batch goes
    * through the staged deterministic-rename commit, and a probe
    * against the accumulated index equals the one-shot
    * delta-vs-corpus dedup over the union exactly.
    */
  def applyNearDupBatch(batch: DataFrame, idCol: String, textCol: String,
      dir: String, batchId: Long, n: Int = 3, k: Int = 128,
      bands: Int = 32): Boolean = {
    val spark = batch.sparkSession
    import spark.implicits._
    val logPath = s"$dir/batchlog"
    val fs = new org.apache.hadoop.fs.Path(logPath)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (BatchLog.contains(spark, logPath, batchId)) {
      return false
    }
    val mb = microPlan(batch)
    val applied =
      if (mb.isEmpty) false
      else {
        val staging = new org.apache.hadoop.fs.Path(s"$dir/staging_b$batchId")
        Seq("bands", "sets", "docs").foreach { sub =>
          sweepBatchFiles(fs, new org.apache.hadoop.fs.Path(s"$dir/$sub"), batchId)
        }
        graft.operators.Dedup.appendNearDupIndex(spark, mb, idCol,
          textCol, dir, n, k, bands, stagingPath = Some(staging.toString))
        Seq("bands", "sets", "docs").foreach { sub =>
          commitStaged(fs, new org.apache.hadoop.fs.Path(staging, sub),
            new org.apache.hadoop.fs.Path(s"$dir/$sub"), batchId)
        }
        fs.delete(staging, true)
        true
      }
    BatchLog.append(spark, logPath, batchId)
    applied
  }

  /** foreachBatch sink: keep a persisted near-dup index current from
    * a document stream.
    */
  def nearDupSink(docs: DataFrame, idCol: String, textCol: String,
      dir: String, checkpoint: String): StreamingQuery =
    docs.writeStream
      .option("checkpointLocation", checkpoint)
      .outputMode("append")
      .foreachBatch { (batch: Dataset[Row], batchId: Long) =>
        applyNearDupBatch(batch, idCol, textCol, dir, batchId)
        ()
      }
      .start()

  /** Apply one micro-batch of documents to a STANDING leakage-safe
    * split directory — the operational form of
    * [[graft.operators.Curation.incrementalSplitAssign]]: `dir` holds
    * the near-dup index (bands/sets/docs) AND the standing assignment
    * (`dir/sides`: doc_id, best_b, side), and one batch application
    *  1. probes the CURRENT index for each batch doc's best match and
    *     derives its side (inherit the match's standing side; fresh
    *     content takes the LCG singleton rule) — batch-priced;
    *  2. appends the batch to the index AND its assignment rows to
    *     `sides` through ONE staged rename + batchlog commit, so the
    *     index and the assignment can never drift apart (the
    *     out-of-sync shape incrementalSplitAssign refuses): a doc is
    *     either fully absorbed (probeable and sided) or not at all.
    * The assignment row is written BEFORE the index delta lands in
    * staging, so the probe never sees the batch's own content.
    * Idempotent by `batchId` (sweep + deterministic rename, the
    * applyDashboardBatch contract); [[graft.operators.Curation
    * .compactSplitAssign]] folds the per-batch `sides` segments.
    * A missing `sides`/index (first batch) bootstraps from empty —
    * every doc is fresh content, matching the one-shot
    * [[graft.operators.Curation.leakageSafeSplit]] singleton rule.
    */
  def applySplitBatch(batch: DataFrame, idCol: String, textCol: String,
      dir: String, batchId: Long, threshold: Double = 0.8,
      trainPct: Int = 80): Boolean = {
    val spark = batch.sparkSession
    import spark.implicits._
    val logPath = s"$dir/batchlog"
    val fs = new org.apache.hadoop.fs.Path(logPath)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (BatchLog.contains(spark, logPath, batchId)) {
      return false
    }
    val subs = Seq("bands", "sets", "docs", "sides")
    val mb = microPlan(batch)
    val applied =
      if (mb.isEmpty) false
      else {
        val staging = new org.apache.hadoop.fs.Path(s"$dir/staging_b$batchId")
        subs.foreach { sub =>
          sweepBatchFiles(fs, new org.apache.hadoop.fs.Path(s"$dir/$sub"), batchId)
        }
        // committed content exists iff `sides` still holds files after
        // this batch's sweep — a crashed first attempt leaves swept
        // orphans and possibly `meta`, but nothing probeable (empty
        // batches log rows without creating any sub-table)
        val sidesP = new org.apache.hadoop.fs.Path(s"$dir/sides")
        val bootstrapped = fs.exists(sidesP) &&
          fs.listStatus(sidesP).exists(f =>
            f.isFile && !f.getPath.getName.startsWith("_"))
        val assign =
          if (bootstrapped)
            graft.operators.Curation.incrementalSplitAssign(spark, dir,
              mb,
              graft.operators.SegRead(spark, s"$dir/sides", "split/sides")
                .select($"doc_id", $"side"),
              idCol, textCol, threshold, trainPct)
          else // first batch: no index yet — all fresh content
            graft.operators.Curation.leakageSafeSplitSingletons(
              mb, idCol, trainPct)
        // materialize the assignment FIRST: it probes the live index,
        // which must not yet contain this batch's own content
        assign.write.mode("overwrite").parquet(s"$staging/sides")
        graft.operators.Dedup.appendNearDupIndex(spark, mb, idCol,
          textCol, dir, stagingPath = Some(staging.toString))
        subs.foreach { sub =>
          commitStaged(fs, new org.apache.hadoop.fs.Path(staging, sub),
            new org.apache.hadoop.fs.Path(s"$dir/$sub"), batchId)
        }
        fs.delete(staging, true)
        true
      }
    BatchLog.append(spark, logPath, batchId)
    applied
  }

  /** Apply one micro-batch of documents to a COMPOSED ingest
    * dashboard directory — profile state + LM counts (orders 2 AND 3)
    * + repetition quantile sketches + the NEAR-DUP index (LSH
    * postings and shingle sets, so every ingested batch is
    * immediately probeable for duplicates) maintained over ONE shared
    * materialization of the batch (the r13 verdict's top item,
    * extended to the full ingest shape). At 100 TB the scan IS the
    * cost: running the five family appliers as separate sinks reads
    * the batch five times, while this applier persists the batch once
    * (memory-and-disk, spill-safe) and derives all five families'
    * delta segments from the cached rows as CONCURRENT jobs —
    * composed cost ≈ scan + max-ish(per-family compute), not sum
    * (measured: tools/DashBench). The order-3 leg adds ONE sub-table
    * (`c123`): its unigram table is byte-identical to the bigram
    * leg's `cw`, so both orders score off the shared copy
    * ([[graft.operators.LangModel.appendTrigramCounts]]).
    *
    * Idempotence is the standard contract, held ATOMICALLY for the
    * composition: all nine sub-tables (c12/c1/cw/c123/state/rep/
    * bands/sets/docs) commit through the staged deterministic-rename
    * before the single batchlog row is written, so a crash anywhere
    * leaves orphaned `b<id>_*` files the replay sweeps in EVERY
    * family — a batch is either fully in the dashboard or (after
    * replay) fully re-applied, never split across families. Each
    * family's merged state is value-exact vs its one-shot form (LM
    * counts additive at both orders, profile stats mergeable,
    * DDSketch bucket adds integer-exact, postings/sets row-additive),
    * so the composed dir serves
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
    * settings commit identically (same staging, same atomic rename,
    * same batchlog row) and are value-exact.
    */
  def applyDashboardBatch(batch: DataFrame, textCol: String,
      numCols: Seq[String], dir: String, batchId: Long,
      p: Int = 12, alpha: Double = graft.operators.IngestDashboard.Alpha,
      idCol: String = "doc_id", shareScan: Boolean = true): Boolean = {
    val spark = batch.sparkSession
    import spark.implicits._
    val logPath = s"$dir/batchlog"
    val fs = new org.apache.hadoop.fs.Path(logPath)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (BatchLog.contains(spark, logPath, batchId)) {
      return false
    }
    val subs =
      Seq("c12", "c1", "cw", "c123", "state", "rep", "bands", "sets", "docs")
    // shareScan: ONE materialized read of the batch decides emptiness
    // AND warms the shared cache (the count() IS the single source
    // scan — a separate isEmpty probe was a whole extra job per
    // apply); the family derivations then run as CONCURRENT jobs over
    // the cached rows — they write disjoint staging sub-tables, so
    // wall time tracks the slowest family (max), not their sum, on
    // top of one scan. !shareScan: the cheap limit-1 emptiness probe,
    // then the same concurrent jobs straight off the source (each
    // re-scans; right when re-pulls are near-free).
    val mb = microPlan(batch)
    val shared =
      if (shareScan) mb.persist(
        org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      else mb
    val nonEmpty =
      if (shareScan) shared.count() > 0L else !shared.isEmpty
    val applied =
      if (!nonEmpty) { if (shareScan) shared.unpersist(); false }
      else try { // unpersist on EVERY exit path, incl. a sweep/staging
                 // failure before the family jobs (ADVICE r17)
        val staging = new org.apache.hadoop.fs.Path(s"$dir/staging_b$batchId")
        subs.foreach { sub =>
          sweepBatchFiles(fs, new org.apache.hadoop.fs.Path(s"$dir/$sub"), batchId)
        }
        import scala.concurrent.{Await, Future}
        import scala.concurrent.ExecutionContext.Implicits.global
        Await.result(Future.sequence(Seq(
          Future(graft.operators.LangModel.appendLmCounts(spark, shared,
            textCol, dir, stagingPath = Some(staging.toString))),
          Future(graft.operators.LangModel.appendTrigramCounts(spark,
            shared, textCol, dir, stagingPath = Some(staging.toString))),
          Future(graft.operators.Profiling.appendProfileState(spark,
            shared, numCols, dir, p, stagingPath = Some(staging.toString))),
          Future(graft.operators.IngestDashboard.appendRepState(spark,
            shared, textCol, dir, alpha,
            stagingPath = Some(staging.toString))),
          Future(graft.operators.Dedup.appendNearDupIndex(spark, shared,
            idCol, textCol, dir, stagingPath = Some(staging.toString))))),
          scala.concurrent.duration.Duration.Inf)
        if (shareScan) shared.unpersist()
        subs.foreach { sub =>
          commitStaged(fs, new org.apache.hadoop.fs.Path(staging, sub),
            new org.apache.hadoop.fs.Path(s"$dir/$sub"), batchId)
        }
        fs.delete(staging, true)
        true
      } catch { case t: Throwable =>
        if (shareScan) try shared.unpersist() catch { case _: Throwable => () }
        throw t
      }
    BatchLog.append(spark, logPath, batchId)
    applied
  }

  /** ONE-SHOT bootstrap of a composed dashboard directory from a
    * static corpus — the [[graft.operators.Pq.buildPqIndex]] pattern
    * applied to the five-family composition: all families' state
    * derived in concurrent jobs, written DIRECTLY (no staging, no
    * batchlog — a bootstrap is all-or-nothing, crash = rebuild), with
    * the `_built` marker committed LAST so operators can tell a
    * finished bootstrap from a crashed one (the
    * [[resolveBuiltMarker]] convention). Incremental batches layer on
    * afterwards via [[applyDashboardBatch]] — every family's state is
    * mergeable, so bootstrap + batches ≡ all-batches value-exactly.
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
    val preexisting = ("_built" +:
      Seq("c12", "c1", "cw", "c123", "state", "rep", "bands", "sets", "docs"))
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
    * Each family's compactor is probe-identical on its own (staged
    * swap + unlogged-delta sweep), so the composition is too; the
    * shared `cw` is re-merged by the order-3 pass after the bigram
    * one — also probe-identical (by-key sums either way). Pinned by
    * StreamingSpec's composed-dashboard test.
    */
  def compactDashboard(spark: org.apache.spark.sql.SparkSession,
      dir: String): Unit = {
    graft.operators.LangModel.compactLmCounts(spark, dir)
    graft.operators.LangModel.compactLm3Counts(spark, dir)
    graft.operators.Profiling.compactProfileState(spark, dir)
    graft.operators.IngestDashboard.compactRepState(spark, dir)
    graft.operators.Dedup.compactNearDupIndex(spark, dir)
  }

  /** foreachBatch sink: keep a composed ingest dashboard (profile +
    * LM + repetition sketches, one shared scan per batch) current
    * from a document stream.
    */
  def dashboardSink(docs: DataFrame, textCol: String,
      numCols: Seq[String], dir: String, checkpoint: String,
      p: Int = 12): StreamingQuery =
    docs.writeStream
      .option("checkpointLocation", checkpoint)
      .outputMode("append")
      .foreachBatch { (batch: Dataset[Row], batchId: Long) =>
        applyDashboardBatch(batch, textCol, numCols, dir, batchId, p)
        ()
      }
      .start()

  /** foreachBatch sink: keep a persisted order-3 KN model current
    * from a document stream.
    */
  def lm3CountsSink(docs: DataFrame, textCol: String, dir: String,
      checkpoint: String): StreamingQuery =
    docs.writeStream
      .option("checkpointLocation", checkpoint)
      .outputMode("append")
      .foreachBatch { (batch: Dataset[Row], batchId: Long) =>
        applyLm3Batch(batch, textCol, dir, batchId)
        ()
      }
      .start()

  /** Apply one micro-batch of rows to a persisted incremental PROFILE
    * ([[graft.operators.Profiling.appendProfileState]] layout),
    * idempotently by `batchId` — the [[applyLmBatch]] shape: every
    * statistic is mergeable (additive counts/sums, idempotent
    * min/max, max-merge HLL registers), so there is no build phase,
    * EVERY batch goes through the staged deterministic-rename commit,
    * and the accumulated profile equals the one-shot
    * [[graft.operators.Profiling.approxProfile]] over the union
    * VALUE-EXACTLY (decimal sums merge in decimal; the q207 gate
    * holds the q205-shaped oracle against it).
    */
  def applyProfileBatch(batch: DataFrame, cols: Seq[String], dir: String,
      batchId: Long, p: Int = 12): Boolean = {
    val spark = batch.sparkSession
    import spark.implicits._
    val logPath = s"$dir/batchlog"
    val fs = new org.apache.hadoop.fs.Path(logPath)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (BatchLog.contains(spark, logPath, batchId)) {
      return false
    }
    val mb = microPlan(batch)
    val applied =
      if (mb.isEmpty) false
      else {
        val staging = new org.apache.hadoop.fs.Path(s"$dir/staging_b$batchId")
        sweepBatchFiles(fs, new org.apache.hadoop.fs.Path(s"$dir/state"), batchId)
        graft.operators.Profiling.appendProfileState(spark, mb, cols, dir,
          p, stagingPath = Some(staging.toString))
        commitStaged(fs, new org.apache.hadoop.fs.Path(staging, "state"),
          new org.apache.hadoop.fs.Path(s"$dir/state"), batchId)
        fs.delete(staging, true)
        true
      }
    BatchLog.append(spark, logPath, batchId)
    applied
  }

  /** foreachBatch sink: keep a persisted incremental profile current
    * from a row stream.
    */
  def profileSink(rows: DataFrame, cols: Seq[String], dir: String,
      checkpoint: String, p: Int = 12): StreamingQuery =
    rows.writeStream
      .option("checkpointLocation", checkpoint)
      .outputMode("append")
      .foreachBatch { (batch: Dataset[Row], batchId: Long) =>
        applyProfileBatch(batch, cols, dir, batchId, p)
        ()
      }
      .start()

  /** foreachBatch sink: keep a persisted incremental LM current from
    * a document stream.
    */
  def lmCountsSink(docs: DataFrame, textCol: String, dir: String,
      checkpoint: String): StreamingQuery =
    docs.writeStream
      .option("checkpointLocation", checkpoint)
      .outputMode("append")
      .foreachBatch { (batch: Dataset[Row], batchId: Long) =>
        applyLmBatch(batch, textCol, dir, batchId)
        ()
      }
      .start()

  /** foreachBatch sink: keep a persisted SQ8 index current from a
    * vector stream.
    */
  def sq8IndexSink(vecs: DataFrame, dir: String,
      checkpoint: String): StreamingQuery =
    vecs.writeStream
      .option("checkpointLocation", checkpoint)
      .outputMode("append")
      .foreachBatch { (batch: Dataset[Row], batchId: Long) =>
        applySq8Batch(batch, dir, batchId)
        ()
      }
      .start()

  /** foreachBatch sink: keep a persisted PQ index current from a
    * vector stream.
    */
  def pqIndexSink(vecs: DataFrame, dir: String,
      checkpoint: String): StreamingQuery =
    vecs.writeStream
      .option("checkpointLocation", checkpoint)
      .outputMode("append")
      .foreachBatch { (batch: Dataset[Row], batchId: Long) =>
        applyPqBatch(batch, dir, batchId)
        ()
      }
      .start()

  /** foreachBatch sink: keep a persisted IVF index current from a
    * vector stream.
    */
  def ivfIndexSink(vecs: DataFrame, dim: Int, dir: String,
      checkpoint: String): StreamingQuery =
    vecs.writeStream
      .option("checkpointLocation", checkpoint)
      .outputMode("append")
      .foreachBatch { (batch: Dataset[Row], batchId: Long) =>
        applyIvfBatch(batch, dim, dir, batchId)
        ()
      }
      .start()

  /** Apply one micro-batch of clip frame fingerprints
    * (`vid`, `fhash` — the `Multimodal.mp4FrameFingerprints` /
    * `Flac.flacFrameFingerprints` shape) to a persisted
    * clip-fingerprint index, idempotently by `batchId` — the media-
    * dedup member of the streaming index matrix. The index is a flat
    * postings tree partitioned by a 64-way fingerprint band
    * (`fb = fhash band`), so probes prune to bands and the pair join
    * shuffles band-aligned postings, and every batch goes through the
    * same staged deterministic-rename commit as IVF/PQ — no training
    * stage, so even the FIRST batch is a staged append and the
    * crash-before-marker window is closed everywhere.
    */
  def applyClipBatch(batch: DataFrame, dir: String, batchId: Long): Boolean = {
    val spark = batch.sparkSession
    import spark.implicits._
    val logPath = s"$dir/batchlog"
    val fs = new org.apache.hadoop.fs.Path(logPath)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (BatchLog.contains(spark, logPath, batchId)) {
      return false
    }
    val mb = microPlan(batch)
    val applied =
      if (mb.isEmpty) false
      else {
        val postings = new org.apache.hadoop.fs.Path(s"$dir/postings")
        val staging = new org.apache.hadoop.fs.Path(s"$dir/staging_b$batchId")
        sweepBatchFiles(fs, postings, batchId)
        mb.select($"vid", $"fhash",
            pmod($"fhash", lit(64)).cast("int").as("fb"))
          .write.mode("overwrite").partitionBy("fb")
          .parquet(staging.toString)
        commitStaged(fs, staging, postings, batchId)
        true
      }
    BatchLog.append(spark, logPath, batchId)
    applied
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

  /** foreachBatch sink: keep a persisted clip-fingerprint index
    * current from a (vid, fhash) stream.
    */
  def clipIndexSink(fps: DataFrame, dir: String,
      checkpoint: String): StreamingQuery =
    fps.writeStream
      .option("checkpointLocation", checkpoint)
      .outputMode("append")
      .foreachBatch { (batch: Dataset[Row], batchId: Long) =>
        applyClipBatch(batch, dir, batchId)
        ()
      }
      .start()
}
