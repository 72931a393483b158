package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, StandardCopyOption}

/** SplitMix64: the benchmark's only source of randomness, so every
  * input is a pure function of the `--seed` argument.
  */
final class Rng(seed: Long) {
  private var s = seed
  def nextLong(): Long = {
    s += 0x9E3779B97F4A7C15L
    Rng.mix(s)
  }
  def below(n: Int): Int = java.lang.Long.remainderUnsigned(nextLong(), n.toLong).toInt
  def unit(): Double = (nextLong() >>> 11) * (1.0 / (1L << 53))
  def gaussian(): Double = {
    val u1 = math.max(unit(), 1e-300)
    math.sqrt(-2 * math.log(u1)) * math.cos(2 * math.Pi * unit())
  }
}

object Rng {
  def mix(z0: Long): Long = {
    var z = z0
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }
  /** FNV-1a over UTF-8 bytes, finalised by the SplitMix mixer: the
    * per-row hash of every order-independent digest in the benchmark.
    */
  def hash64(s: String): Long = {
    var h = 0xCBF29CE484222325L
    val b = s.getBytes(UTF_8)
    var i = 0
    while (i < b.length) { h = (h ^ (b(i) & 0xFF)) * 0x100000001B3L; i += 1 }
    mix(h)
  }
}

/** Order-independent multiset digest: row count, sum and xor of the
  * rows' 64-bit hashes.
  */
final case class Digest(rows: Long, sum: Long, xor: Long) {
  def +(o: Digest): Digest = Digest(rows + o.rows, sum + o.sum, xor ^ o.xor)
  override def toString: String = f"$rows:$sum%016x:$xor%016x"
}

object Digest {
  val empty: Digest = Digest(0, 0, 0)
  def of(h: Long): Digest = Digest(1, h, h)
}

/** The `bulk_load` export: the reference's documented production job
  * (22 pipe-delimited source columns, `\N` nulls, CJK text with
  * embedded tabs and backslashes), laid out as a hive `dt=…/pt=…` tree.
  * The expected wire rows are derived here from the raw fields by the
  * reference's rules, without calling graft.
  */
object LoadGen {
  val Days: Seq[String] = Seq("2026-08-01", "2026-08-02", "2026-08-03", "2026-08-04")
  val Platforms: Seq[(String, Int)] = Seq("android" -> 5, "ios" -> 4, "pc" -> 1)
  val FilesPerPlatform = 2
  val ExcludeFields: Seq[Int] = Seq(0, 9, 10, 13, 14, 15, 16, 17, 18)
  /** Target columns are named by source position: LoaderJob resolves
    * target names (sharding key included) against the text source's
    * positional `c<i>` columns. Types follow the reference's ClickHouse
    * target; only string vs non-string matters to the load.
    */
  val TargetDDL: String =
    "c1 TINYINT, c2 SMALLINT, c3 STRING, c4 INT, c5 TINYINT, c6 BIGINT, " +
      "c7 BIGINT, c8 STRING, c11 STRING, c12 STRING, c19 STRING, " +
      "c20 TINYINT, c21 STRING, dt STRING, pt STRING"
  val ShardingKey = "c21"
  val ShardWeights: Seq[Int] = Seq(3, 2, 2, 1)
  val BatchSize = 200000
  private val stringPositions = Set(3, 8, 11, 12, 19, 21)

  private val cjk = "首页推荐歌单排行榜电台直播搜索热门新歌华语流行摇滚民谣电子说唱古典轻音乐评论收藏下载分享播放暂停"
  private val actions = IndexedSeq("click", "play", "pause", "seek", "share", "fav")

  final case class Day(dt: String, rows: Long, bytes: Long, digest: Digest)

  private def cjkText(r: Rng, n: Int): String = {
    val sb = new StringBuilder
    var i = 0
    while (i < n) {
      sb.append(cjk.charAt(r.below(cjk.length)))
      i += 1
      // embedded tab / backslash: the sanitiser must rewrite them
      if (r.below(16) == 0) sb.append(if (r.below(2) == 0) '\t' else '\\')
    }
    sb.toString
  }

  private def fields(r: Rng, dt: String, devices: IndexedSeq[String]): Array[String] = {
    val f = new Array[String](22)
    f(0) = "lst" + r.below(100000)
    f(1) = r.below(4).toString
    f(2) = (1000 + r.below(9000)).toString
    f(3) = (100000000000000L + (r.nextLong() >>> 1) % 900000000000000L).toString
    f(4) = r.below(Int.MaxValue).toString
    f(5) = r.below(10).toString
    f(6) = (r.nextLong() >>> 20).toString
    f(7) = (r.nextLong() >>> 20).toString
    f(8) = f"$dt ${r.below(24)}%02d:${r.below(60)}%02d:${r.below(60)}%02d"
    f(9) = r.below(1000).toString
    f(10) = r.below(500).toString
    f(11) = cjkText(r, 2 + r.below(6))
    f(12) = cjkText(r, 2 + r.below(10))
    f(13) = cjkText(r, 4 + r.below(20))
    f(14) = actions(r.below(actions.size))
    var i = 15
    while (i <= 18) { f(i) = r.below(2).toString; i += 1 }
    f(19) = dt
    f(20) = r.below(4).toString
    // uniform over the device pool: a few heavy devices would land in
    // seed-dependent shards and make the sink's slowest task, and so the
    // job time, depend on the seed
    f(21) = devices(r.below(devices.size))
    // `\N` nulls, in string and non-string columns alike
    i = 0
    while (i < 22) { if (r.below(32) == 0) f(i) = "\\N"; i += 1 }
    f
  }

  /** The wire row the reference would emit for one source line. */
  def expectedWire(f: Array[String], dt: String, pt: String): String = {
    val out = (0 until 22).filterNot(ExcludeFields.contains).map { i =>
      val v = f(i)
      if (v == "\\N") (if (stringPositions.contains(i)) "" else "0")
      else v.replace('\t', ' ').replace('\\', '/')
    } ++ Seq(dt, pt)
    out.mkString("\t")
  }

  /** Writes the export under `root` and returns each day's expected
    * row count and digest.
    */
  def write(root: Path, seed: Long, rowsPerDay: Int): Seq[Day] = {
    val r = new Rng(seed)
    val devices = IndexedSeq.fill(20000)(java.lang.Long.toHexString(r.nextLong()))
    val wsum = Platforms.map(_._2).sum
    Days.map { dt =>
      var dig = Digest.empty
      var bytes = 0L
      var rows = 0L
      Platforms.foreach { case (pt, w) =>
        val n = rowsPerDay * w / wsum
        val dir = root.resolve(s"dt=$dt/pt=$pt")
        Files.createDirectories(dir)
        (0 until FilesPerPlatform).foreach { k =>
          val sb = new java.lang.StringBuilder
          val m = n / FilesPerPlatform + (if (k < n % FilesPerPlatform) 1 else 0)
          (0 until m).foreach { _ =>
            val f = fields(r, dt, devices)
            sb.append(f.mkString("|")).append('\n')
            dig = dig + Digest.of(Rng.hash64(expectedWire(f, dt, pt)))
            rows += 1
          }
          val b = sb.toString.getBytes(UTF_8)
          bytes += b.length
          Files.write(dir.resolve(f"part-$k%05d"), b)
        }
      }
      Day(dt, rows, bytes, dig)
    }
  }
}

/** The `index_stream` input: documents with a 64-dim embedding each,
  * arriving in micro-batches, plus the hybrid search requests. Text is
  * drawn from a Zipf-like vocabulary with planted near-duplicates;
  * vectors sit in tight clusters so IVF recall is a real measurement.
  */
object StreamGen {
  val Dim = 64
  final case class Doc(id: Long, text: String, vec: Array[Float])
  final case class Query(id: Long, text: String, vec: Array[Float])

  final class Source(seed: Long, clusters: Int = 64) {
    private val r = new Rng(seed)
    private val vocab: IndexedSeq[String] = IndexedSeq.tabulate(3000) { i =>
      val letters = "abcdefghijklmnopqrstuvwxyz"
      val h = Rng.mix(seed * 31 + i)
      (0 until 3 + (i % 5)).map(k => letters.charAt(((h >>> (k * 5)) & 31).toInt % 26)).mkString + i
    }
    private val centres: IndexedSeq[Array[Double]] = IndexedSeq.fill(clusters) {
      val v = Array.fill(Dim)(r.gaussian()); normalise(v); v
    }
    private var nextId = 0L
    private var last: Doc = _
    /** (earlier id, later id) of every planted near-duplicate pair. */
    val planted = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]

    private def normalise(v: Array[Double]): Unit = {
      val n = math.sqrt(v.map(x => x * x).sum)
      var i = 0
      while (i < v.length) { v(i) /= n; i += 1 }
    }
    private def word(): String = {
      // Zipf-like: the square of a uniform draw favours low ranks
      val u = r.unit()
      vocab((u * u * vocab.size).toInt)
    }
    private def vecNear(c: Array[Double], noise: Double): Array[Float] = {
      val v = c.map(_ + noise * r.gaussian())
      normalise(v)
      v.map(_.toFloat)
    }
    def text(n: Int): String = Seq.fill(n)(word()).mkString(" ")

    def doc(): Doc = {
      val id = nextId
      nextId += 1
      val d =
        if (last != null && r.below(9) == 0) {
          // planted near-duplicate: one word of the previous document
          // replaced, so 3-shingle jaccard stays near 0.9
          val toks = last.text.split(" ")
          toks(r.below(toks.length)) = word()
          planted += ((last.id, id))
          Doc(id, toks.mkString(" "), vecNear(last.vec.map(_.toDouble), 0.05))
        } else Doc(id, text(40 + r.below(40)), vecNear(centres(r.below(clusters)), 0.12))
      last = d
      d
    }
    def batch(n: Int): IndexedSeq[Doc] = IndexedSeq.fill(n)(doc())
    def queries(firstId: Long, n: Int): IndexedSeq[Query] = IndexedSeq.tabulate(n) { i =>
      Query(firstId + i, text(3), vecNear(centres(r.below(clusters)), 0.12))
    }
  }

  /** One batch as JSON lines, the stream's file format. */
  def jsonLines(docs: Seq[Doc]): String = {
    val sb = new java.lang.StringBuilder
    docs.foreach { d =>
      sb.append("{\"doc_id\":").append(d.id).append(",\"text\":\"").append(d.text)
        .append("\",\"embedding\":[")
      var i = 0
      while (i < d.vec.length) {
        if (i > 0) sb.append(',')
        sb.append(d.vec(i))
        i += 1
      }
      sb.append("]}\n")
    }
    sb.toString
  }

  /** Publish a batch file atomically: written beside the stream's
    * directory, then renamed in, so the file source never lists a
    * partial file.
    */
  def publish(dir: Path, staging: Path, name: String, body: String): Long = {
    val b = body.getBytes(UTF_8)
    val tmp = staging.resolve(name)
    Files.write(tmp, b)
    Files.move(tmp, dir.resolve(name), StandardCopyOption.ATOMIC_MOVE)
    b.length.toLong
  }

  def cosine(a: Array[Float], b: Array[Float]): Double = {
    var d = 0.0; var na = 0.0; var nb = 0.0; var i = 0
    while (i < a.length) { d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
    d / math.sqrt(na * nb)
  }

  /** Exact cosine top-k ids over `corpus`, ties by smaller id. */
  def exactTopK(q: Array[Float], corpus: Seq[Doc], k: Int): Seq[Long] =
    corpus.map(d => (cosine(q, d.vec), d.id))
      .sortBy { case (c, id) => (-c, id) }.take(k).map(_._2)

  def shingles(text: String, n: Int): Set[String] =
    text.split(" ").sliding(n).map(_.mkString(" ")).toSet

  def jaccard(a: String, b: String, n: Int): Double = {
    val (x, y) = (shingles(a, n), shingles(b, n))
    (x intersect y).size.toDouble / (x union y).size
  }
}
