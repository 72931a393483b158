package graft.streaming

import graft.operators.IndexMaintenance.deleteOrThrow
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession

/** The one owner of an index directory's commit artifacts: its
  * batchlog (`<dir>/batchlog`) and its build marker (`<dir>/_built`).
  * No other code names, reads or writes either (a CatalogSpec test
  * pins this). Every operation is a driver-side file operation and
  * runs no Spark job, and both artifacts are published the same way:
  * written under a dotted temp name, forced to stable storage, then
  * renamed into place, so a crash never leaves a torn artifact under
  * its real name and a replay discards the temp.
  *
  * '''The log.''' `foreachBatch` is at-least-once, so every applier
  * asks "is this batchId already logged?" and, after its data commit,
  * "log this batchId". Each log row is its own parquet file
  * `b<id>.parquet` with one schema for every applier:
  * `batch_id LONG, applied BOOLEAN` (`applied` is false for an empty
  * batch, which writes no data but is still logged). [[ids]] lists the
  * row files' names and [[contains]] answers from that listing.
  * Hidden names (temp files, checksums, `_SUCCESS`) are skipped; any
  * other entry is a foreign file, and the listing throws naming it.
  * So a log written by the pre-r16 appliers (Spark `part-*` rows) or
  * rewritten by Spark fails loudly instead of being read: there is one
  * format and one reader.
  *
  * '''The marker.''' `_built` holds the id of the batch whose
  * all-overwrite build committed (−1 for the batch API), written as
  * every `build*Index`'s LAST step; see
  * [[graft.operators.IndexMaintenance]] for how a replay uses it. A
  * rebuild deletes the old marker before publishing (the local
  * filesystem refuses a rename onto an existing file); a crash in
  * between leaves the lost-marker state that
  * `IndexMaintenance.resolveBuiltMarker` recovers from the log's
  * `applied` rows ([[anyApplied]]).
  */
private[graft] object BatchLog {
  private val RowFile = "b(\\d+)\\.parquet".r

  private def logDir(dir: String) = new Path(dir, "batchlog")
  private def marker(dir: String) = new Path(dir, "_built")
  private def fsOf(spark: SparkSession, p: Path) =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** The row files of `dir`'s log by batch id (empty when there is no
    * log); throws on an entry that is no row file.
    */
  private def rowFiles(fs: FileSystem, dir: String): Map[Long, Path] = {
    val log = logDir(dir)
    if (!fs.exists(log)) Map.empty
    else fs.listStatus(log).iterator.map(_.getPath)
      .filterNot(p => p.getName.startsWith(".") || p.getName.startsWith("_"))
      .map { p =>
        p.getName match {
          case RowFile(id) => id.toLong -> p
          case other => throw new IllegalStateException(
            s"batchlog $log holds $other, which is no row file (b<id>.parquet): " +
              "a log written by pre-r16 code or rewritten by Spark is not read")
        }
      }.toMap
  }

  /** Every batch id logged in `dir` (empty when it has no log). */
  def ids(spark: SparkSession, dir: String): Set[Long] =
    rowFiles(fsOf(spark, logDir(dir)), dir).keySet

  /** Is `batchId` logged in `dir`? */
  def contains(spark: SparkSession, dir: String, batchId: Long): Boolean =
    ids(spark, dir).contains(batchId)

  /** Does any row of `dir`'s log record `applied = true`, i.e. some
    * batch committed data? Reads the row files on the driver.
    */
  def anyApplied(spark: SparkSession, dir: String): Boolean = {
    val conf = spark.sparkContext.hadoopConfiguration
    rowFiles(fsOf(spark, logDir(dir)), dir).values.exists(p =>
      graft.operators.TinyParquet.rows(conf, p.toString).exists(_.getBoolean("applied", 0)))
  }

  /** Log `batchId` in `dir`. A re-run for a logged id is a no-op: the
    * row is a pure function of (batchId, applied).
    */
  def append(spark: SparkSession, dir: String, batchId: Long, applied: Boolean): Unit = {
    val log = logDir(dir)
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = log.getFileSystem(conf)
    fs.mkdirs(log)
    val dest = new Path(log, s"b$batchId.parquet")
    if (fs.exists(dest)) return
    publish(fs, dest) { tmp =>
      val schema = org.apache.parquet.schema.MessageTypeParser.parseMessageType(
        "message batchlog { optional int64 batch_id; optional boolean applied; }")
      val writer = org.apache.parquet.hadoop.example.ExampleParquetWriter
        .builder(org.apache.parquet.hadoop.util.HadoopOutputFile.fromPath(tmp, conf))
        .withType(schema)
        .withConf(conf)
        .build()
      try {
        val g = new org.apache.parquet.example.data.simple.SimpleGroupFactory(
          schema).newGroup()
        g.add("batch_id", batchId)
        g.add("applied", applied)
        writer.write(g)
      } finally writer.close()
      val fr = graft.operators.TinyParquet.open(conf, tmp)
      try require(fr.getRecordCount == 1L, s"torn batchlog row at $tmp")
      finally fr.close()
    }
  }

  /** Publish `_built = builtBy` in `dir`, replacing any marker there. */
  def writeBuiltMarker(spark: SparkSession, dir: String, builtBy: Long): Unit = {
    val dest = marker(dir)
    val fs = fsOf(spark, dest)
    deleteOrThrow(fs, dest)
    publish(fs, dest) { tmp =>
      val out = fs.create(tmp, true)
      try out.write(builtBy.toString.getBytes("UTF-8")) finally out.close()
    }
  }

  /** The committed-build marker of `dir`, if any. */
  def readBuiltMarker(spark: SparkSession, dir: String): Option[Long] = {
    val p = marker(dir)
    val fs = fsOf(spark, p)
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      try Some(new String(in.readAllBytes(), "UTF-8").trim.toLong)
      finally in.close()
    }
  }

  /** Write `dest` through `write(tmp)` to the dotted temp name, force
    * it to stable storage, and rename it into place. Without the force
    * a power loss after the rename could publish a torn file under the
    * real name; on filesystems other than the local one, `append`'s
    * footer check at least keeps a torn row unpublished. A `false`
    * from the rename is a failure unless `dest` now exists (a
    * concurrent or replayed publish of the same content won).
    */
  private def publish(fs: FileSystem, dest: Path)(write: Path => Unit): Unit = {
    val tmp = new Path(dest.getParent, s".${dest.getName}.tmp")
    if (fs.exists(tmp)) fs.delete(tmp, false)
    write(tmp)
    if ("file" == fs.getScheme) {
      val ch = java.nio.channels.FileChannel.open(
        java.nio.file.Paths.get(tmp.toUri.getPath),
        java.nio.file.StandardOpenOption.READ)
      try ch.force(true) finally ch.close()
    }
    if (!fs.rename(tmp, dest)) {
      fs.delete(tmp, false)
      if (!fs.exists(dest))
        throw new java.io.IOException(s"batchlog: publishing $dest failed (rename refused)")
    }
  }
}
