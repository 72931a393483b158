package graft.streaming

import graft.functions.CallParam.param
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession

/** The appliers' idempotence log, as driver-side file operations.
  *
  * Every `apply*Batch` needs two one-row interactions with
  * `dir/batchlog` per micro-batch: "is this batchId already logged?"
  * and "log this batchId". As Spark jobs (a filtered read + a one-row
  * append write) those two cost more than some whole family
  * derivations at micro-batch scale, and on a cluster they are two
  * scheduled jobs for what is semantically ONE namenode round-trip.
  * This helper makes both O(1) driver-side calls:
  *
  *  - each log row is its OWN parquet file `b<id>.parquet`, written
  *    with parquet-hadoop's ExampleParquetWriter (no job) to a dotted
  *    temp name and PUBLISHED by rename — atomic on HDFS and local
  *    fs, so a crash never leaves a torn row, and a replayed append
  *    converges (the row file either exists or is re-created
  *    identically);
  *  - the membership check is `fs.exists(b<id>.parquet)`, with a
  *    read-the-dir fallback for LEGACY logs whose rows live in Spark
  *    `part-*` files (dirs written before this helper, and test
  *    harnesses that rewrite the log with a Spark overwrite to
  *    simulate crashes).
  *
  * Readers are unchanged: the row files are ordinary parquet, so
  * `spark.read.parquet(dir/batchlog)` (resolveBuiltMarker, the gates'
  * oracle re-derivations, DuckDB) sees exactly the rows it always
  * saw; [[ids]] lists the ids from the row-file names instead.
  * Schema matches the writers it replaced: `batch_id LONG`, plus
  * `applied BOOLEAN` only for the appliers that record it (absent
  * column reads null — the legacy distinction resolveBuiltMarker
  * relies on is preserved).
  */
private[graft] object BatchLog {
  private def rowFile(batchId: Long) = s"b$batchId.parquet"

  private def isRowFile(name: String): Boolean = {
    val mid = name.stripPrefix("b").stripSuffix(".parquet")
    name.startsWith("b") && name.endsWith(".parquet") &&
      mid.nonEmpty && mid.forall(_.isDigit)
  }

  /** O(1) check with legacy fallback: is `batchId` recorded? */
  def contains(spark: SparkSession, logPath: String,
      batchId: Long): Boolean = {
    val dirP = new Path(logPath)
    val fs = dirP.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(dirP)) return false
    if (fs.exists(new Path(dirP, rowFile(batchId)))) return true
    if (!hasLegacy(fs.listStatus(dirP))) return false
    // the id is a CallParam so the check compiles once, not per batch
    import org.apache.spark.sql.functions.col
    !spark.read.schema("batch_id LONG, applied BOOLEAN")
      .parquet(logPath).filter(col("batch_id") === param(batchId)).isEmpty
  }

  /** Every recorded batch id (empty when the dir does not exist): the
    * row-file names, listed on the driver, with the same legacy
    * fallback to a Spark read of the whole dir as [[contains]].
    */
  def ids(spark: SparkSession, logPath: String): Set[Long] = {
    val dirP = new Path(logPath)
    val fs = dirP.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(dirP)) return Set.empty
    val files = fs.listStatus(dirP)
    if (hasLegacy(files))
      spark.read.schema("batch_id LONG").parquet(logPath)
        .collect().map(_.getLong(0)).toSet
    else files.iterator.map(_.getPath.getName).filter(isRowFile)
      .map(_.stripPrefix("b").stripSuffix(".parquet").toLong).toSet
  }

  /** Legacy rows: present only in dirs written by the pre-r16
    * appliers (or the BM25 applier's old catalog table) or rewritten
    * whole by a test harness — the readers fall back to a Spark read
    * whenever ANY data file that is not one of ours (b<id>.parquet /
    * _SUCCESS-style markers / dotfiles) exists. Keying on a
    * writer-specific name like part-* would silently double-apply a
    * batch logged by a harness that coalesces or renames log files;
    * the fallback direction is the safe one (it reads row files too,
    * just slower).
    */
  private def hasLegacy(files: Array[org.apache.hadoop.fs.FileStatus]): Boolean =
    files.exists { f =>
      val n = f.getPath.getName
      f.isFile && !n.startsWith(".") && !n.startsWith("_") && !isRowFile(n)
    }

  /** Atomic driver-side append of one log row (`b<id>.parquet`). A
    * re-run for an id whose row already exists is a no-op — the row
    * content is a pure function of (batchId, applied).
    */
  def append(spark: SparkSession, logPath: String, batchId: Long,
      applied: Option[Boolean] = None): Unit = {
    val dirP = new Path(logPath)
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = dirP.getFileSystem(conf)
    fs.mkdirs(dirP)
    val dest = new Path(dirP, rowFile(batchId))
    if (fs.exists(dest)) return
    val schema = org.apache.parquet.schema.MessageTypeParser.parseMessageType(
      if (applied.isDefined)
        "message batchlog { optional int64 batch_id; optional boolean applied; }"
      else "message batchlog { optional int64 batch_id; }")
    val tmp = new Path(dirP, s".${rowFile(batchId)}.tmp")
    if (fs.exists(tmp)) fs.delete(tmp, false)
    val writer = org.apache.parquet.hadoop.example.ExampleParquetWriter
      .builder(org.apache.parquet.hadoop.util.HadoopOutputFile.fromPath(tmp, conf))
      .withType(schema)
      .withConf(conf)
      .build()
    try {
      val g = new org.apache.parquet.example.data.simple.SimpleGroupFactory(
        schema).newGroup()
      g.add("batch_id", batchId)
      applied.foreach(a => g.add("applied", a))
      writer.write(g)
    } finally writer.close()
    // Durability before publish: ParquetWriter.close flushes to the
    // OS but forces nothing to stable storage, and publishing a
    // non-durable row by rename would be worse than the Spark-commit
    // path it replaced (which never published outside _temporary) —
    // after a power loss contains() would key on the existence of a
    // torn file and report the batch as logged while every parquet
    // read of the log dir fails on the corrupt footer. On local
    // filesystems an fsync through a read-only FileChannel closes
    // that window; elsewhere (HDFS post-close) the footer validation
    // below at least bounds the failure to the crash windows already
    // documented above (a torn tmp is discarded on replay, never
    // published).
    if ("file" == fs.getScheme) {
      val ch = java.nio.channels.FileChannel.open(
        java.nio.file.Paths.get(tmp.toUri.getPath),
        java.nio.file.StandardOpenOption.READ)
      try ch.force(true) finally ch.close()
    }
    val fr = graft.operators.TinyParquet.open(conf, tmp)
    try require(fr.getRecordCount == 1L, s"torn batchlog row at $tmp")
    finally fr.close()
    if (!fs.rename(tmp, dest)) {
      // a concurrent/replayed append published first — identical row
      fs.delete(tmp, false)
      require(fs.exists(dest),
        s"batchlog append failed to publish $dest")
    }
    ()
  }
}
