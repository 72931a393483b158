package graft

import graft.streaming.BatchLog

/** Pins the driver-side batchlog contract ([[graft.streaming
  * .BatchLog]]): one parquet row file per batch with one schema,
  * atomic publish of rows and of the `_built` marker, membership from
  * the row-file listing, and a loud failure on any other file in the
  * log.
  */
class BatchLogSpec extends SparkSpec {

  private def freshDir(): String =
    java.nio.file.Files.createTempDirectory("graft-batchlog").toString

  test("append + contains roundtrip; absent ids stay absent") {
    val dir = freshDir()
    assert(!BatchLog.contains(spark, dir, 0L))
    BatchLog.append(spark, dir, 0L, applied = true)
    BatchLog.append(spark, dir, 7L, applied = false)
    assert(BatchLog.contains(spark, dir, 0L))
    assert(BatchLog.contains(spark, dir, 7L))
    assert(!BatchLog.contains(spark, dir, 1L))
    // replayed append converges (no duplicate rows, no error)
    BatchLog.append(spark, dir, 7L, applied = false)
    assert(spark.read.parquet(s"$dir/batchlog").count() == 2)
  }

  test("row files are ordinary parquet: Spark readers see every row") {
    import spark.implicits._
    val dir = freshDir()
    BatchLog.append(spark, dir, 3L, applied = true)
    BatchLog.append(spark, dir, 4L, applied = true)
    BatchLog.append(spark, dir, 5L, applied = false)
    val log = spark.read.parquet(s"$dir/batchlog")
    assert(log.schema.fieldNames.toSeq == Seq("batch_id", "applied"))
    val rows = log.orderBy($"batch_id").collect().map(r => (r.getLong(0), r.getBoolean(1)))
    assert(rows.toSeq == Seq((3L, true), (4L, true), (5L, false)))
    assert(BatchLog.anyApplied(spark, dir))
    val none = freshDir()
    BatchLog.append(spark, none, 0L, applied = false)
    assert(!BatchLog.anyApplied(spark, none), "applied = false rows prove no commit")
  }

  test("a file that is no row file fails the log, and the IVF apply writes nothing") {
    import graft.operators.Similarity
    import graft.streaming.StreamingIndex
    import java.nio.file.{Files, Paths}
    import scala.jdk.CollectionConverters._
    import spark.implicits._
    val corpus = Similarity.prepare(Tables(spark, sf).embeddings, "vec_id", "embedding")
    val dir = freshDir()
    assert(StreamingIndex.applyIvfBatch(corpus.filter($"vid" % 2 === 0), 64, dir, 0))
    // the part file of a log that Spark wrote (pre-r16 appliers, or a
    // harness rewriting the log): copied in, not written by Spark
    Files.copy(Paths.get(dir, "batchlog", "b0.parquet"),
      Paths.get(dir, "batchlog", "part-00000.parquet"))
    def tree() = {
      val w = Files.walk(Paths.get(dir))
      try w.iterator.asScala.map(p => p.toString -> Files.size(p)).toSet finally w.close()
    }
    val before = tree()
    val e = intercept[IllegalStateException](
      StreamingIndex.applyIvfBatch(corpus.filter($"vid" % 2 =!= 0), 64, dir, 1))
    assert(e.getMessage.contains("part-00000.parquet"), e.getMessage)
    assert(tree() == before, "a refused batch must write nothing")
    val e2 = intercept[IllegalStateException](BatchLog.ids(spark, dir))
    assert(e2.getMessage.contains("part-00000.parquet"), e2.getMessage)
  }

  test("ids: listed from row-file names on the driver") {
    val dir = freshDir()
    assert(BatchLog.ids(spark, dir).isEmpty, "a missing log has no ids")
    Seq(0L, 2L, 9L).foreach(BatchLog.append(spark, dir, _, applied = true))
    BatchLog.append(spark, dir, 4L, applied = false)
    assert(BatchLog.ids(spark, dir) == Set(0L, 2L, 4L, 9L))
  }

  test("publish is atomic: no temp files survive an append") {
    val dir = freshDir()
    BatchLog.append(spark, dir, 1L, applied = false)
    BatchLog.append(spark, dir, 2L, applied = true)
    val names = new java.io.File(s"$dir/batchlog").listFiles().map(_.getName).toSeq
    assert(names.forall(n => !n.endsWith(".tmp")), names.toString)
    assert(names.count(_.matches("b\\d+\\.parquet")) == 2, names.toString)
    // the marker: published the same way, and replaced by a rebuild
    assert(BatchLog.readBuiltMarker(spark, dir).isEmpty)
    BatchLog.writeBuiltMarker(spark, dir, 0L)
    BatchLog.writeBuiltMarker(spark, dir, -1L)
    assert(BatchLog.readBuiltMarker(spark, dir).contains(-1L))
    val top = new java.io.File(dir).list().toSeq
    assert(top.contains("_built") && top.forall(n => !n.endsWith(".tmp")), top.toString)
  }
}
