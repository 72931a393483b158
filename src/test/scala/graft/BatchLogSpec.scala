package graft

import graft.streaming.BatchLog
import org.apache.spark.sql.functions._

/** Pins the driver-side batchlog contract ([[graft.streaming
  * .BatchLog]]): one parquet row-file per batch, atomic publish,
  * O(1) membership, and — the compatibility bar — indistinguishable
  * to every reader from the Spark-append form it replaced (legacy
  * dirs, mixed dirs, and harness rewrites included).
  */
class BatchLogSpec extends SparkSpec {

  private def freshLog(): String =
    java.nio.file.Files.createTempDirectory("graft-batchlog").toString + "/batchlog"

  test("append + contains roundtrip; absent ids stay absent") {
    val log = freshLog()
    assert(!BatchLog.contains(spark, log, 0L))
    BatchLog.append(spark, log, 0L)
    BatchLog.append(spark, log, 7L)
    assert(BatchLog.contains(spark, log, 0L))
    assert(BatchLog.contains(spark, log, 7L))
    assert(!BatchLog.contains(spark, log, 1L))
    // replayed append converges (no duplicate rows, no error)
    BatchLog.append(spark, log, 7L)
    assert(spark.read.parquet(log).count() == 2)
  }

  test("row files are ordinary parquet: Spark readers see every row") {
    import spark.implicits._
    val log = freshLog()
    BatchLog.append(spark, log, 3L)
    BatchLog.append(spark, log, 4L, applied = Some(true))
    BatchLog.append(spark, log, 5L, applied = Some(false))
    // the resolveBuiltMarker read shape (explicit schema; a row
    // without the applied column reads null)
    val rows = spark.read.schema("batch_id LONG, applied BOOLEAN")
      .parquet(log).orderBy($"batch_id")
      .collect().map(r => (r.getLong(0), Option(r.get(1))))
    assert(rows.toSeq == Seq((3L, None), (4L, Some(true)), (5L, Some(false))))
    // the loggedBatchIds read shape (no explicit schema)
    val ids = spark.read.parquet(log).select("batch_id")
      .collect().map(_.getLong(0)).toSet
    assert(ids == Set(3L, 4L, 5L))
  }

  test("legacy fallback: Spark-appended rows are found; rewritten dirs too") {
    import spark.implicits._
    val log = freshLog()
    // a dir written entirely by the pre-r16 Spark-append form
    Seq(11L).toDF("batch_id").write.mode("append").parquet(log)
    assert(BatchLog.contains(spark, log, 11L))
    assert(!BatchLog.contains(spark, log, 12L))
    // mixed dir: a BatchLog row lands next to the legacy ones
    BatchLog.append(spark, log, 12L)
    assert(BatchLog.contains(spark, log, 11L))
    assert(BatchLog.contains(spark, log, 12L))
    assert(spark.read.parquet(log).count() == 2)
    // harness rewrite (crash simulation): overwrite drops batch 12's
    // row file — contains must see exactly the survivors
    val survivors = spark.read.parquet(log)
      .filter($"batch_id" === 11L).select("batch_id")
      .collect().map(_.getLong(0)).toSeq
    survivors.toDF("batch_id").write.mode("overwrite").parquet(log)
    assert(BatchLog.contains(spark, log, 11L))
    assert(!BatchLog.contains(spark, log, 12L))
  }

  test("ids: listed from row-file names, with the Spark-read fallback on mixed dirs") {
    import spark.implicits._
    val log = freshLog()
    assert(BatchLog.ids(spark, log).isEmpty, "a missing dir has no ids")
    Seq(0L, 2L, 9L).foreach(BatchLog.append(spark, log, _))
    BatchLog.append(spark, log, 4L, applied = Some(false))
    assert(BatchLog.ids(spark, log) == Set(0L, 2L, 4L, 9L))
    // mixed: legacy part-* rows next to the row files
    Seq(5L, 6L).toDF("batch_id").write.mode("append").parquet(log)
    assert(new java.io.File(log).list().exists(_.startsWith("part-")))
    assert(BatchLog.ids(spark, log) == Set(0L, 2L, 4L, 5L, 6L, 9L))
    assert(graft.operators.IndexMaintenance.loggedBatchIds(spark,
      new java.io.File(log).getParent) == Set(0L, 2L, 4L, 5L, 6L, 9L))
  }

  test("publish is atomic: no temp files survive an append") {
    val log = freshLog()
    BatchLog.append(spark, log, 1L)
    BatchLog.append(spark, log, 2L, applied = Some(true))
    val names = new java.io.File(log).listFiles().map(_.getName).toSeq
    assert(names.forall(n => !n.endsWith(".tmp")), names.toString)
    assert(names.count(_.matches("b\\d+\\.parquet")) == 2, names.toString)
  }
}
