package graft

import java.io.IOException
import java.net.URI
import java.nio.file.{Files, Path => JPath, Paths}
import java.util.concurrent.atomic.{AtomicInteger, AtomicReference}

import graft.io.NioLocalFileSystem
import graft.operators.{Dedup, Similarity}
import graft.streaming.StreamingIndex
import org.apache.hadoop.fs.{FSDataOutputStream, FileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable
import org.apache.spark.sql.DataFrame
import org.scalatest.BeforeAndAfterAll

/** `file://` that can fail one mutating call (create, mkdirs, rename,
  * delete) — by throwing `IOException`, or, for a rename or delete of a
  * path that exists, by returning `false` as object stores do (for a
  * missing path `false` is the correct answer, not a fault). Calls are
  * numbered from 1
  * while counting is on. Not counted: calls inside Spark's own attempt
  * dirs (`_temporary`, `.spark-staging-*`, whose cleanup Spark does
  * not check), and calls nested in another counted call (a create's
  * parent mkdirs).
  */
class FaultingLocalFileSystem extends NioLocalFileSystem {
  import FaultingLocalFileSystem.guarded

  override def create(f: Path, permission: FsPermission, overwrite: Boolean, bufferSize: Int,
      replication: Short, blockSize: Long, progress: Progressable): FSDataOutputStream =
    guarded("create", f, refusable = false)(
      super.create(f, permission, overwrite, bufferSize, replication, blockSize, progress))(null)

  override def mkdirs(f: Path): Boolean =
    guarded("mkdirs", f, refusable = false)(super.mkdirs(f))(false)

  override def mkdirs(f: Path, permission: FsPermission): Boolean =
    guarded("mkdirs", f, refusable = false)(super.mkdirs(f, permission))(false)

  override def rename(src: Path, dst: Path): Boolean =
    guarded("rename", dst, exists(src))(super.rename(src, dst))(false)

  override def delete(f: Path, recursive: Boolean): Boolean =
    guarded("delete", f, exists(f))(super.delete(f, recursive))(false)
}

object FaultingLocalFileSystem {
  sealed trait Fault
  case object Throws extends Fault
  case object ReturnsFalse extends Fault

  private val counting = new java.util.concurrent.atomic.AtomicBoolean(false)
  private val armed = new AtomicReference[Option[(Fault, Int)]](None)
  private val all, refusals = new AtomicInteger
  private val fired = new AtomicReference[Option[String]](None)
  private val nested = ThreadLocal.withInitial[java.lang.Boolean](() => false)

  /** Count the calls of `f`, failing the `k`-th countable one as
    * `fault` says; returns (calls, refusable calls, the failed call if
    * one was failed).
    */
  def run[T](fault: Option[(Fault, Int)])(f: => T): (Int, Int, Option[String]) = {
    all.set(0); refusals.set(0); fired.set(None); armed.set(fault)
    counting.set(true)
    try { f; () } finally { counting.set(false); armed.set(None) }
    (all.get, refusals.get, fired.get)
  }

  private def sparkAttempt(p: Path): Boolean =
    p.toUri.getPath.split('/').exists(c => c == "_temporary" || c.startsWith(".spark-staging-"))

  private def guarded[T](op: String, target: Path, refusable: => Boolean)(call: => T)(
      refused: T): T =
    if (nested.get || !counting.get || sparkAttempt(target)) call
    else {
      val canRefuse = refusable
      val n = all.incrementAndGet()
      val m = if (canRefuse) refusals.incrementAndGet() else 0
      val refuse = armed.get match {
        case Some((Throws, k)) if k == n =>
          fired.set(Some(s"$op $target"))
          throw new IOException(s"injected fault at call $n: $op $target")
        case Some((ReturnsFalse, k)) if canRefuse && k == m =>
          fired.set(Some(s"$op $target")); true
        case _ => false
      }
      if (refuse) refused
      else {
        nested.set(true)
        try call finally nested.set(false)
      }
    }
}

/** Every crash point of the directory-index commit protocol
  * ([[graft.operators.IndexMaintenance]]): for one IVF append, one
  * near-dup append and one near-dup compaction, each countable
  * filesystem call is failed in turn (see [[FaultingLocalFileSystem]]);
  * the call must throw, and a re-run without the fault must converge —
  * probes equal to a from-scratch batch build, each batch id logged
  * exactly once, no staging or swap directory left behind.
  *
  * The suite binds `file://` to the faulting class for its duration
  * and restores graft's own binding, and Hadoop's `FileSystem` cache,
  * afterwards.
  */
class IndexFaultSpec extends SparkSpec with BeforeAndAfterAll {
  import FaultingLocalFileSystem.{Fault, ReturnsFalse, Throws}

  private val FileImpl = "fs.file.impl"
  private lazy val conf = spark.sparkContext.hadoopConfiguration

  private def bind(impl: String): Unit = {
    conf.set(FileImpl, impl)
    FileSystem.closeAll()
    FileSystem.get(URI.create("file:///"), conf) // cache the bound class
    ()
  }

  override def beforeAll(): Unit = {
    super.beforeAll()
    bind(classOf[FaultingLocalFileSystem].getName)
  }

  override def afterAll(): Unit =
    try bind(classOf[NioLocalFileSystem].getName) finally super.afterAll()

  private def tmp(name: String): JPath = Files.createTempDirectory(s"graft-fault-$name")

  private def copyTree(from: JPath, to: JPath): Unit = {
    val s = Files.walk(from)
    try s.forEach(p => Files.copy(p, to.resolve(from.relativize(p).toString)))
    finally s.close()
  }

  private def deleteTree(p: JPath): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.sorted(java.util.Comparator.reverseOrder[JPath]()).forEach(Files.delete(_))
    finally s.close()
  }

  /** A directory converged: probes equal `want`, each of `ids` is
    * logged once, and no staging or swap directory is left.
    */
  private def assertConverged(dir: String, ids: Seq[Long], probe: String => Set[_],
      want: Set[_], at: String): Unit = {
    assert(probe(dir) == want, s"$at: probe differs from the from-scratch build")
    val logged = spark.read.schema("batch_id LONG").parquet(s"$dir/batchlog")
      .collect().map(_.getLong(0)).toSeq
    ids.foreach(id => assert(logged.count(_ == id) == 1, s"$at: batch $id logged as $logged"))
    val left = new java.io.File(dir).list().filter(n =>
      n.startsWith("staging_b") || n.endsWith("_compact") || n.endsWith("_old"))
    assert(left.isEmpty, s"$at: left behind ${left.mkString(", ")}")
  }

  /** Fail every countable call of `op` on a fresh copy of `base`, in
    * turn, then re-run `op` unfaulted and check convergence.
    */
  private def enumerate(name: String, fault: Fault, base: JPath, ids: Seq[Long],
      probe: String => Set[_], want: Set[_])(op: String => Any): Unit = {
    val work = Paths.get(base.toString + "-work")
    def fresh(): String = { deleteTree(work); copyTree(base, work); work.toString }
    val t0 = System.nanoTime()
    val (calls, refusable, _) = FaultingLocalFileSystem.run(None)(op(fresh()))
    assertConverged(work.toString, ids, probe, want, s"$name unfaulted")
    val points = if (fault == Throws) calls else refusable
    assert(points > 0, s"$name made no countable call")
    (1 to points).foreach { k =>
      val dir = fresh()
      val at = s"$name, $fault at call $k"
      var thrown: Option[Throwable] = None
      val (_, _, failed) = FaultingLocalFileSystem.run(Some(fault -> k)) {
        try op(dir) catch { case t: Throwable => thrown = Some(t) }
      }
      assert(failed.isDefined, s"$at: no such call")
      assert(thrown.isDefined, s"$at (${failed.get}) did not throw")
      op(dir)
      assertConverged(dir, ids, probe, want, s"$at (${failed.get})")
    }
    deleteTree(work)
    println(f"IndexFaultSpec: $name, $fault: $points points in " +
      f"${(System.nanoTime() - t0) / 1e9}%.1f s")
  }

  // IVF: batch 0 builds, batch 1 appends
  private lazy val ivf = {
    import spark.implicits._
    val corpus = Similarity.prepare(Tables(spark, sf).embeddings, "vec_id", "embedding").cache()
    val (b0, b1) = (corpus.filter($"vid" % 2 === 0), corpus.filter($"vid" % 2 =!= 0))
    val base = tmp("ivf")
    assert(StreamingIndex.applyIvfBatch(b0, 64, base.toString, 0))
    val ref = tmp("ivf-ref").toString
    Similarity.buildIvfIndex(b0, 64, ref)
    Similarity.appendIvfIndex(spark, b1, ref)
    val queries = corpus.limit(20).cache()
    val probe = (d: String) => Similarity.ivfProbeIndexed(spark, d, queries, k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val want = probe(ref)
    assert(want.nonEmpty)
    (b1, base, probe, want)
  }

  // near-dup (4 bands of 4): batch 0 appended to the base, batch 1 is
  // the faulted append; the compaction base holds both
  private lazy val nearDup = {
    import spark.implicits._
    val docs = Tables(spark, sf).documents.select($"doc_id", $"text").cache()
    val (b0, b1) = (docs.filter($"doc_id" % 2 === 0), docs.filter($"doc_id" % 2 =!= 0))
    def apply(b: DataFrame, dir: String, id: Long) =
      StreamingIndex.applyNearDupBatch(b, "doc_id", "text", dir, id, k = 16, bands = 4)
    val base = tmp("nd")
    assert(apply(b0, base.toString, 0))
    val both = tmp("nd-both")
    assert(apply(b0, both.toString, 0) && apply(b1, both.toString, 1))
    val ref = tmp("nd-ref").toString
    Dedup.appendNearDupIndex(spark, docs, "doc_id", "text", ref, 3, 16, 4)
    val probeDocs = docs.filter($"doc_id" % 5 === 0).cache()
    val probe = (d: String) =>
      Dedup.nearDupProbeIndexed(spark, d, probeDocs, "doc_id", "text", 0.8)
        .collect().map(r => (r.getLong(0), r.getLong(1), math.round(r.getDouble(2) * 1e9)))
        .toSet
    val want = probe(ref)
    assert(want.nonEmpty)
    (apply(b1, _: String, 1), base, both, probe, want)
  }

  for (fault <- Seq(Throws, ReturnsFalse)) {
    val how = if (fault == Throws) "throws IOException" else "returns false"
    test(s"IVF append: each filesystem call that $how fails the apply, and the replay converges") {
      val (b1, base, probe, want) = ivf
      enumerate("IVF append", fault, base, Seq(0L, 1L), probe, want) { dir =>
        StreamingIndex.applyIvfBatch(b1, 64, dir, 1)
      }
    }

    test(s"near-dup append: each filesystem call that $how fails the apply, and the replay converges") {
      val (apply1, base, _, probe, want) = nearDup
      enumerate("near-dup append", fault, base, Seq(0L, 1L), probe, want)(apply1)
    }

    test(s"near-dup compaction: each filesystem call that $how fails it, and the re-run converges") {
      val (_, _, both, probe, want) = nearDup
      enumerate("near-dup compaction", fault, both, Seq(0L, 1L), probe, want) { dir =>
        Dedup.compactNearDupIndex(spark, dir)
      }
    }
  }
}
