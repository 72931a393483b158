package graft.operators

import graft.streaming.{BatchLog, StreamingIndex}
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The one commit protocol of the directory-backed persisted indexes
  * (IVF, PQ, SQ8, LM, LM3, near-dup, split, dashboard, profile, clip):
  * the per-batch exactly-once apply ([[applyBatch]]) and the
  * segment-folding compaction ([[compactTables]]). Every family
  * supplies only what it stages or merges; the directory operations
  * are all here. `IndexFaultSpec` fails each of them in turn.
  *
  * '''Per-batch apply.''' Structured Streaming's `foreachBatch` is
  * at-least-once, so an applier must be idempotent by batch id. In
  * order:
  *  1. the batchlog (`dir/batchlog`, a driver-side [[BatchLog]]):
  *     a logged id is a no-op (`false`);
  *  2. [[StreamingIndex.microPlan]], then the emptiness probe (an
  *     empty batch writes nothing but still logs its id);
  *  3. the sweep: delete every `b<id>_*` file of THIS id that a
  *     crashed attempt already moved into a live sub-table;
  *  4. the stage: the family writes its delta to
  *     `dir/staging_b<id>/<sub>` in overwrite mode (a replay rewrites
  *     it whole);
  *  5. the rename-commit: each staged file moves to
  *     `dir/<sub>[/<partition>]/b<id>_<k>.parquet`, `k` in sorted
  *     source order, so a replay over a swept tree produces the same
  *     names; the staging dir is dropped;
  *  6. the batchlog row, strictly AFTER the data.
  * A crash before 6 leaves at most staging files and `b<id>_*` files
  * with no log row; the checkpoint re-delivers the id and steps 3–5
  * converge to exactly one copy. The families that train on their
  * first batch (IVF, PQ, SQ8) pass a [[Build]]: the first batch runs
  * the all-overwrite build, which writes `dir/_built = <id>` last
  * ([[Similarity.writeBuiltMarker]]), and a replay whose id matches
  * the marker only writes the log row. Their log rows record
  * `applied`, which [[resolveBuiltMarker]] reads.
  *
  * '''Compaction.''' [[compactTables]] replaces each live sub-table by
  * its merged form: a recovery preamble, the unlogged-delta sweep,
  * then per table the staged swap `<sub>_compact` → `<sub>` through
  * `<sub>_old`.
  *
  * Two invariants hold for both paths:
  *  1. '''Rename/delete results are CHECKED''' ([[renameOrThrow]],
  *     [[deleteOrThrow]]). On object-store semantics `rename`/`delete`
  *     can fail by returning `false` without throwing. An apply that
  *     went on past a refused rename would drop the staged delta with
  *     the staging dir and log the batch as applied: the batch would
  *     be lost. Throwing turns the failure into a crash point that the
  *     replay (or the compaction preamble) already handles.
  *  2. '''Compaction sweeps UNLOGGED batch deltas first.''' A batch
  *     that crashed between its rename-commit and its log row leaves
  *     `b<id>_*` files that its replay sweeps. Folding them into the
  *     merged segment would erase the `b<id>` name, and the replay
  *     would append the batch a second time. Deleting them is safe
  *     because the row is absent: the checkpoint re-delivers the id.
  */
private[graft] object IndexMaintenance {

  /** `fs.rename` that throws on a `false` return (invariant 1). */
  def renameOrThrow(fs: FileSystem, src: Path, dst: Path): Unit =
    if (!fs.rename(src, dst))
      throw new java.io.IOException(
        s"index maintenance: rename $src -> $dst returned false " +
          "(object-store semantics?) — aborting at a clean crash point")

  /** Recursive `fs.delete` that throws on a `false` return for an
    * existing path (invariant 1); deleting a missing path is a no-op.
    */
  def deleteOrThrow(fs: FileSystem, p: Path): Unit =
    if (fs.exists(p) && !fs.delete(p, true))
      throw new java.io.IOException(
        s"index maintenance: delete $p returned false — aborting at a " +
          "clean crash point")

  /** Where an appender writes, and how: into `stagingPath` with mode
    * overwrite for a staged commit, or into `dir` itself with mode
    * append (the batch path, where the caller owns exactly-once).
    */
  def writeTarget(dir: String, stagingPath: Option[String]): (String, String) =
    stagingPath.fold((dir, "append"))((_, "overwrite"))

  /** The batch ids with a batchlog row in `dir` (empty when the dir
    * has no log — a batch-API-only index), listed on the driver.
    */
  def loggedBatchIds(spark: SparkSession, dir: String): Set[Long] =
    BatchLog.ids(spark, s"$dir/batchlog")

  /** A family that trains on its first batch: `run` is its
    * all-overwrite build, and `finalPiece` the sub-table whose
    * `_SUCCESS` proves a legacy build committed.
    */
  final case class Build(finalPiece: String, run: DataFrame => Unit)

  /** Apply one batch to the index in `dir`, idempotently by `batchId`
    * (the protocol in the object scaladoc). `stage(batch, staging)`
    * writes the delta of every sub-table in `subs` to
    * `staging/<sub>`. `shareScan` persists the batch for the stage's
    * several consumers; its `count()` is then the emptiness probe.
    * Returns true when the batch was applied, false for a logged id
    * or an empty batch.
    */
  def applyBatch(batch: DataFrame, dir: String, batchId: Long, subs: Seq[String],
      build: Option[Build] = None, shareScan: Boolean = false)(
      stage: (DataFrame, String) => Unit): Boolean = {
    val spark = batch.sparkSession
    val logPath = s"$dir/batchlog"
    if (BatchLog.contains(spark, logPath, batchId)) return false
    val root = new Path(dir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val mb = StreamingIndex.microPlan(batch)
    val shared =
      if (shareScan) mb.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      else mb
    val applied = try {
      val nonEmpty = if (shareScan) shared.count() > 0L else !shared.isEmpty
      nonEmpty && {
        build.map(b => b -> resolveBuiltMarker(spark, dir, fs, b.finalPiece)) match {
          case Some((_, Some(id))) if id == batchId => () // only the log row is missing
          case Some((b, None)) => b.run(shared)
          case _ =>
            val prefix = s"b${batchId}_"
            sweep(fs, root, subs)(_.startsWith(prefix))
            val staging = new Path(root, s"staging_b$batchId")
            stage(shared, staging.toString)
            subs.foreach(sub => commit(fs, new Path(staging, sub), new Path(root, sub), batchId))
            deleteOrThrow(fs, staging)
        }
        true
      }
    } finally if (shareScan) shared.unpersist()
    BatchLog.append(spark, logPath, batchId, build.map(_ => applied))
    applied
  }

  /** Move the staged files of one sub-table (and of its partition
    * dirs, mirrored) into `live` as `b<id>_<k>.parquet`.
    */
  private def commit(fs: FileSystem, staged: Path, live: Path, batchId: Long): Unit = {
    def moveInto(src: Path, dst: Path): Unit =
      fs.listStatus(src).filter(f => f.isFile && !f.getPath.getName.startsWith("_"))
        .sortBy(_.getPath.getName).zipWithIndex.foreach { case (f, k) =>
          renameOrThrow(fs, f.getPath, new Path(dst, s"b${batchId}_$k.parquet"))
        }
    fs.mkdirs(live)
    moveInto(staged, live)
    fs.listStatus(staged).filter(_.isDirectory).foreach { part => // cid=X / l1=Y / band=Z
      val dest = new Path(live, part.getPath.getName)
      fs.mkdirs(dest)
      moveInto(part.getPath, dest)
    }
  }

  /** Delete the files of `dir/<sub>` (flat, or one partition level
    * down) whose name `doomed` selects: the applier's sweep of one id
    * and the compactor's sweep of unlogged ids.
    */
  private def sweep(fs: FileSystem, root: Path, subs: Seq[String])(
      doomed: String => Boolean): Unit =
    subs.map(new Path(root, _)).filter(fs.exists).foreach { live =>
      fs.listStatus(live).foreach { e =>
        (if (e.isDirectory) fs.listStatus(e.getPath) else Array(e))
          .foreach(f => if (doomed(f.getPath.getName)) deleteOrThrow(fs, f.getPath))
      }
    }

  private val BatchFile = "^b(\\d+)_.*".r

  /** Resolve an index dir's build-commit marker, RECOVERING the
    * lost-marker / legacy state: with `_built` absent, the next batch
    * would otherwise take the all-overwrite build path even over a
    * directory full of committed appends (an index built by
    * pre-marker code, or the marker file lost), wiping every appended
    * batch.
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
    * Residual window (legacy dirs only): a legacy dir whose only
    * logged rows are EMPTY batches and whose build crashed exactly
    * between its final piece write and its batchlog append reads as
    * committed and would double-apply that one batch on replay.
    * Post-`applied` dirs close it: a crashed build logs nothing, and
    * empty batches log `applied = false`.
    */
  private def resolveBuiltMarker(spark: SparkSession, dir: String, fs: FileSystem,
      finalPiece: String): Option[Long] = {
    val marked = Similarity.readBuiltMarker(spark, dir)
    if (marked.isDefined) return marked
    val logP = new Path(s"$dir/batchlog")
    if (!fs.exists(logP)) return None
    import org.apache.spark.sql.functions.col
    // explicit schema: legacy log files lack `applied` (reads null)
    val log = spark.read.schema("batch_id LONG, applied BOOLEAN").parquet(logP.toString)
    val committed =
      !log.filter(col("applied") === true).isEmpty ||
        (!log.filter(col("applied").isNull).isEmpty &&
          fs.exists(new Path(s"$dir/$finalPiece/_SUCCESS")))
    if (committed) {
      Similarity.writeBuiltMarker(spark, dir, -1L)
      Some(-1L)
    } else None
  }

  /** Replace each live sub-table `dir/<sub>` by its merged form: the
    * one compaction swap. `tables` maps each sub-table to a THUNK of
    * its replacement frame (`spark.read.parquet` lists files eagerly,
    * so the reader is built only after the preamble has restored
    * `live` and the sweep has deleted orphaned deltas).
    * `partitionCols` keeps a disk-partitioned layout (near-dup bands,
    * IVF members) through the rewrite, so partition pruning survives.
    *
    * Recovery preamble: a prior compaction can only crash with `live`
    * absent between its two renames; whichever of `<sub>_compact` (the
    * merged segment) and `<sub>_old` (the pre-compaction segments,
    * probe-identical) holds the data goes back to `live` before any
    * read. The batchlog is untouched: compaction changes layout, not
    * content.
    */
  def compactTables(spark: SparkSession, dir: String,
      tables: Seq[(String, () => DataFrame)],
      partitionCols: Map[String, Seq[String]] = Map.empty): Unit = {
    val root = new Path(dir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def paths(sub: String) =
      (new Path(root, sub), new Path(root, s"${sub}_compact"), new Path(root, s"${sub}_old"))
    tables.foreach { case (sub, _) =>
      val (live, staged, old) = paths(sub)
      if (!fs.exists(live)) {
        if (fs.exists(staged)) renameOrThrow(fs, staged, live)
        else if (fs.exists(old)) renameOrThrow(fs, old, live)
      }
    }
    lazy val logged = loggedBatchIds(spark, dir)
    sweep(fs, root, tables.map(_._1)) {
      case BatchFile(id) => !logged.contains(id.toLong)
      case _ => false
    }
    tables.foreach { case (sub, mkDf) =>
      val (live, staged, old) = paths(sub)
      deleteOrThrow(fs, staged)
      val w = mkDf().write.mode("overwrite")
      (partitionCols.getOrElse(sub, Nil) match {
        case Nil => w
        case cols => w.partitionBy(cols: _*)
      }).parquet(staged.toString)
      deleteOrThrow(fs, old)
      renameOrThrow(fs, live, old)
      renameOrThrow(fs, staged, live)
      deleteOrThrow(fs, old)
    }
  }
}
