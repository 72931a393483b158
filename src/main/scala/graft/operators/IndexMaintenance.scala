package graft.operators

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession

/** Shared filesystem plumbing for persisted-index maintenance — the
  * compaction / staged-swap paths of [[LangModel.compactLmCounts]],
  * [[Similarity.compactSq8Index]], [[Similarity.compactIvfIndex]] and
  * [[Profiling.compactProfileState]].
  *
  * Two invariants live here so every maintainer holds them the same
  * way:
  *
  *  1. '''Rename/delete results are CHECKED.''' On object-store
  *     filesystem semantics `rename`/`delete` can fail by returning
  *     `false` without throwing; a swap that proceeds past a failed
  *     step leaves a half-swapped directory the crash-recovery
  *     preamble cannot classify (it only understands the states a
  *     CRASH can leave). Throwing at the failed step turns the
  *     failure into a clean crash point the preamble already handles.
  *  2. '''Compaction sweeps UNLOGGED batch deltas first.''' Streaming
  *     appliers commit `b<id>_*` delta files by deterministic rename
  *     and write the batchlog row strictly AFTER; a batch that
  *     crashed between the two leaves orphaned `b<id>_*` files that
  *     its checkpoint-driven replay sweeps before re-appending. A
  *     compaction that folds those orphans into the merged segment
  *     erases the `b<id>` name — the replay then finds nothing to
  *     sweep and re-appends, double-counting. Sweeping the orphans
  *     (every `b<id>` prefix with NO batchlog row) before merging is
  *     safe precisely because the row is absent: the batch never
  *     committed, and the checkpoint WILL re-deliver it.
  */
private[graft] object IndexMaintenance {

  /** `fs.rename` that throws on a `false` return (invariant 1). */
  def renameOrThrow(fs: FileSystem, src: Path, dst: Path): Unit =
    if (!fs.rename(src, dst))
      throw new java.io.IOException(
        s"index maintenance: rename $src -> $dst returned false " +
          "(object-store semantics?) — aborting the swap at a clean crash point")

  /** Recursive `fs.delete` that throws on a `false` return for an
    * existing path (invariant 1); deleting a missing path is a no-op.
    */
  def deleteOrThrow(fs: FileSystem, p: Path): Unit =
    if (fs.exists(p) && !fs.delete(p, true))
      throw new java.io.IOException(
        s"index maintenance: delete $p returned false — aborting the " +
          "swap at a clean crash point")

  /** The batch ids with a batchlog row in `dir` (empty when the dir
    * has no log — a batch-API-only index), listed on the driver.
    */
  def loggedBatchIds(spark: SparkSession, dir: String): Set[Long] =
    graft.streaming.BatchLog.ids(spark, s"$dir/batchlog")

  private val BatchFile = "^b(\\d+)_.*".r

  /** Delete live `b<id>_*` delta files whose id has no batchlog row
    * (invariant 2 — run by every compactor BEFORE reading the
    * segments it merges). Handles flat and one-level-partitioned
    * layouts, mirroring the appliers' own sweep.
    */
  def sweepUnloggedBatchFiles(spark: SparkSession, dir: String,
      subs: Seq[String]): Unit = {
    val root = new Path(dir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    lazy val logged = loggedBatchIds(spark, dir)
    def sweepFile(p: Path): Unit = p.getName match {
      case BatchFile(id) if !logged.contains(id.toLong) =>
        deleteOrThrow(fs, p)
      case _ => ()
    }
    subs.foreach { sub =>
      val live = new Path(root, sub)
      if (fs.exists(live)) fs.listStatus(live).foreach { e =>
        if (e.isDirectory) fs.listStatus(e.getPath).foreach(f => sweepFile(f.getPath))
        else sweepFile(e.getPath)
      }
    }
  }
}
