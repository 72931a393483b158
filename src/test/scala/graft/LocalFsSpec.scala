package graft

import java.net.URI
import java.nio.file.{Files, LinkOption, Paths => JPaths}
import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit}

import graft.io.{NioLocalFileSystem, NioLocalFs, NioRawLocalFileSystem}
import org.apache.hadoop.fs.{FileContext, FileSystem, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import jdk.jfr.consumer.RecordingStream

import scala.jdk.CollectionConverters._
import scala.util.Try

/** The session's `file://` binding ([[graft.io]]): graft's classes
  * serve every local `FileSystem` and `FileContext`, a write starts no
  * OS process, and modes and link statuses are Hadoop's.
  */
class LocalFsSpec extends SparkSpec {

  private def oct(s: String): Int = Integer.parseInt(s, 8)

  private def tmp(prefix: String): String = Files.createTempDirectory(prefix).toString

  /** The commands (and threads) of the processes this JVM starts while
    * `body` runs, from JFR `jdk.ProcessStart` events. Two marker
    * processes bracket `body`: once the closing one is delivered (in
    * time order), every start during `body` has been. Spark's
    * heartbeat threads are left out: their first executor-metrics poll
    * runs `getconf PAGESIZE` once per JVM, on its own schedule, and
    * they write no files.
    */
  private def processStarts(body: => Unit): Seq[String] = {
    val tag = s"graft-localfs-marker-${System.nanoTime()}"
    val (opened, closed) = (new CountDownLatch(1), new CountDownLatch(1))
    val seen = new ConcurrentLinkedQueue[String]()
    val rs = new RecordingStream()
    try {
      rs.enable("jdk.ProcessStart")
      rs.onEvent("jdk.ProcessStart", e => {
        val cmd = e.getString("command")
        val thread = Option(e.getThread).map(_.getJavaName).getOrElse("?")
        if (cmd.contains(s"$tag-open")) opened.countDown()
        else if (cmd.contains(s"$tag-close")) closed.countDown()
        else if (opened.getCount == 0 && closed.getCount > 0 && !thread.contains("heartbeater"))
          seen.add(s"$cmd [$thread]")
      })
      rs.startAsync()
      def mark(latch: CountDownLatch, name: String): Unit = {
        new ProcessBuilder("echo", s"$tag-$name").start().waitFor()
        assert(latch.await(60, TimeUnit.SECONDS), s"JFR never delivered the $name marker")
      }
      mark(opened, "open")
      body
      mark(closed, "close")
    } finally rs.close()
    seen.asScala.toSeq
  }

  test("file:// resolves to graft's classes for FileSystem, getLocal and FileContext") {
    val conf = spark.sparkContext.hadoopConfiguration
    assert(FileSystem.get(URI.create("file:///"), conf).isInstanceOf[NioLocalFileSystem])
    assert(FileSystem.getLocal(conf).isInstanceOf[NioLocalFileSystem])
    assert(new Path(tmp("graft-localfs-a")).getFileSystem(conf).isInstanceOf[NioLocalFileSystem])
    assert(FileContext.getLocalFSFileContext(conf).getDefaultFileSystem.isInstanceOf[NioLocalFs])
  }

  test("a rename onto an existing file is refused, as by Hive's ProxyLocalFileSystem") {
    val conf = spark.sparkContext.hadoopConfiguration
    def renames(fs: LocalFileSystem): Seq[Boolean] = {
      fs.initialize(URI.create("file:///"), conf)
      val r = new Path(tmp("graft-localfs-rename"))
      Seq("a", "b").foreach(n => fs.create(new Path(r, n)).close())
      assert(fs.mkdirs(new Path(r, "d")))
      try Seq(fs.rename(new Path(r, "a"), new Path(r, "b")),
        fs.exists(new Path(r, "a")),
        fs.rename(new Path(r, "a"), new Path(r, "c")),
        fs.rename(new Path(r, "c"), new Path(r, "d")),
        fs.exists(new Path(r, "d/c")))
      finally fs.close()
    }
    val hive = renames(new org.apache.hadoop.hive.ql.io.ProxyLocalFileSystem())
    assert(hive == Seq(false, true, true, true, true))
    assert(renames(new NioLocalFileSystem()) == hive)
  }

  test("local writes start no process: partitioned write, batchlog, IVF apply and compaction, checkpointed stream") {
    import graft.operators.Similarity
    import graft.streaming.{BatchLog, StreamingIndex}
    import spark.implicits._
    val corpus = Similarity.prepare(
      Tables(spark, sf).embeddings, "vec_id", "embedding").cache()
    corpus.count()
    val (parts, log, ivf) = (tmp("graft-localfs-parts"), tmp("graft-localfs-log"), tmp("graft-localfs-ivf"))
    val (in, out, ckpt) = (tmp("graft-localfs-in"), tmp("graft-localfs-out"), tmp("graft-localfs-ck"))
    spark.range(0, 40).write.mode("overwrite").parquet(s"$in/a")
    val starts = processStarts {
      spark.range(0, 200).withColumn("p", $"id" % 4)
        .write.mode("overwrite").partitionBy("p").parquet(parts)
      BatchLog.append(spark, log, 0L, applied = false)
      BatchLog.append(spark, log, 1L, applied = true)
      assert(StreamingIndex.applyIvfBatch(corpus.filter($"vid" % 2 === 0), 64, ivf, 0))
      assert(StreamingIndex.applyIvfBatch(corpus.filter($"vid" % 2 =!= 0), 64, ivf, 1))
      Similarity.compactIvfIndex(spark, ivf)
      val q = spark.readStream.schema("id LONG").parquet(s"$in/a")
        .writeStream.format("parquet")
        .option("checkpointLocation", ckpt).option("path", out)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination(120000)
      assert(q.exception.isEmpty, q.exception.toString)
    }
    assert(starts.isEmpty, s"${starts.size} process starts, e.g. ${starts.take(5).mkString("; ")}")
    assert(spark.read.parquet(parts).count() == 200)
    assert(BatchLog.ids(spark, log) == Set(0L, 1L))
    assert(spark.read.parquet(s"$ivf/members").count() == corpus.count())
    assert(spark.read.parquet(out).count() == 40)
    assert(Files.list(JPaths.get(ckpt, "commits")).iterator.asScala.nonEmpty)
  }

  test("file and directory modes equal those Hadoop's LocalFileSystem writes") {
    val conf = spark.sparkContext.hadoopConfiguration
    def tree(fs: LocalFileSystem, root: String): Map[String, Int] = {
      fs.initialize(URI.create("file:///"), conf)
      val r = new Path(root)
      def dir(name: String) = { val p = new Path(r, name); assert(fs.mkdirs(p)); p }
      def setMode(p: Path, mode: String) =
        Files.setAttribute(JPaths.get(p.toUri.getPath), "unix:mode", Int.box(oct(mode)))
      fs.create(new Path(r, "f")).close()
      fs.create(new Path(r, "g"), new FsPermission(oct("600").toShort), true, 4096,
        1.toShort, 1L << 20, null).close()
      dir("d/e/f")
      assert(fs.mkdirs(new Path(r, "m"), new FsPermission(oct("700").toShort)))
      val setgid = dir("setgid")
      setMode(setgid, "2775")
      fs.setPermission(setgid, new FsPermission(oct("755").toShort))
      val setuidFile = new Path(r, "setuid")
      fs.create(setuidFile).close()
      setMode(setuidFile, "4755")
      fs.setPermission(setuidFile, new FsPermission(oct("644").toShort))
      fs.setPermission(dir("sticky"), new FsPermission(oct("1777").toShort))
      val unstuck = dir("unstuck")
      fs.setPermission(unstuck, new FsPermission(oct("1777").toShort))
      fs.setPermission(unstuck, new FsPermission(oct("755").toShort))
      fs.close()
      val walk = Files.walk(JPaths.get(root))
      try walk.iterator.asScala.map { p =>
        JPaths.get(root).relativize(p).toString ->
          Files.getAttribute(p, "unix:mode", LinkOption.NOFOLLOW_LINKS).asInstanceOf[Int]
      }.toMap
      finally walk.close()
    }
    val hadoop = tree(new LocalFileSystem(), tmp("graft-localfs-hadoop"))
    val nio = tree(new NioLocalFileSystem(), tmp("graft-localfs-nio"))
    assert(nio == hadoop, s"\nhadoop: $hadoop\ngraft:  $nio")
    // not vacuous: the special bits are there, and the .crc files too
    def perm(name: String) = hadoop(name) & oct("7777")
    assert(perm("setgid") == oct("2755") && perm("setuid") == oct("644"))
    assert(perm("sticky") == oct("1777") && perm("unstuck") == oct("755"))
    assert(hadoop.contains(".f.crc") && hadoop.contains(".g.crc"))
  }

  test("getFileLinkStatus equals Hadoop's for a file, a directory, a symlink, a dangling link and a missing path") {
    val conf = spark.sparkContext.hadoopConfiguration
    val root = JPaths.get(tmp("graft-localfs-links"))
    val file = Files.write(root.resolve("file"), "x".getBytes)
    val dir = Files.createDirectory(root.resolve("dir"))
    val link = Files.createSymbolicLink(root.resolve("link"), file)
    val dangling = Files.createSymbolicLink(root.resolve("dangling"), root.resolve("gone"))
    val missing = root.resolve("missing")
    def statuses(fs: RawLocalFileSystem): Seq[Any] = {
      fs.initialize(URI.create("file:///"), conf)
      for (p <- Seq(file, dir, link, dangling, missing);
           path <- Seq(new Path(p.toString), new Path(p.toUri)))
        yield Try(fs.getFileLinkStatus(path)).map { s =>
          (s.getPath, s.isFile, s.isDirectory, s.isSymlink,
            if (s.isSymlink) s.getSymlink else null, s.getLen, s.getModificationTime,
            s.getPermission, s.getOwner, s.getGroup)
        }.recover { case e => e.getClass.getName }.get
    }
    val hadoop = statuses(new RawLocalFileSystem())
    assert(statuses(new NioRawLocalFileSystem()) == hadoop)
    assert(hadoop.count(_ == classOf[java.io.FileNotFoundException].getName) >= 2,
      s"the missing path must throw FileNotFoundException: $hadoop")
  }
}
