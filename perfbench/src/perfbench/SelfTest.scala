package perfbench

import java.nio.file.{Files, Path}

import org.apache.spark.sql.Row

/** Checks of the benchmark's own machinery: seeded generators are
  * deterministic and seed-sensitive, and the digests are independent
  * of row order and floating-point summation order.
  */
object SelfTest {
  private var failures = 0
  private var passed = 0
  private def expect(what: String, ok: Boolean): Unit =
    if (ok) passed += 1 else { failures += 1; System.err.println(s"FAIL $what") }

  private def tree(root: Path): Map[String, Seq[Byte]] = {
    val s = Files.walk(root)
    try s.toArray.map(_.asInstanceOf[Path]).filter(Files.isRegularFile(_))
      .map(p => root.relativize(p).toString -> Files.readAllBytes(p).toSeq).toMap
    finally s.close()
  }

  private def stream(seed: Long): (String, Seq[String], Seq[(Long, Long)]) = {
    val src = new StreamGen.Source(seed)
    val docs = src.batch(500) ++ src.batch(100)
    val qs = src.queries(1000000000L, 8).map(q => q.text + q.vec.mkString(","))
    (StreamGen.jsonLines(docs), qs, src.planted.toSeq)
  }

  def run(): Unit = {
    val tmp = Files.createTempDirectory("perfbench-selftest")
    try {
      val a = LoadGen.write(tmp.resolve("a"), 7L, 2000)
      val b = LoadGen.write(tmp.resolve("b"), 7L, 2000)
      val c = LoadGen.write(tmp.resolve("c"), 8L, 2000)
      expect("bulk_load: same seed, same export bytes", tree(tmp.resolve("a")) == tree(tmp.resolve("b")))
      expect("bulk_load: same seed, same expected digests", a == b)
      expect("bulk_load: other seed, other export", tree(tmp.resolve("a")) != tree(tmp.resolve("c")))
      expect("bulk_load: other seed, other digests", a.map(_.digest) != c.map(_.digest))
      expect("bulk_load: fixed rows per day", a.map(_.rows) == c.map(_.rows))
      val raw = new String(Files.readAllBytes(tmp.resolve(s"a/dt=${LoadGen.Days.head}/pt=ios/part-00000")),
        java.nio.charset.StandardCharsets.UTF_8)
      expect("bulk_load: 22 fields a line", raw.split("\n").forall(_.split("\\|", -1).length == 22))
      expect("bulk_load: nulls, tabs, backslashes and CJK present",
        raw.contains("\\N") && raw.contains("\t") && raw.contains("\\") && raw.exists(_ > '　'))

      expect("index_stream: same seed, same batches and queries", stream(7L) == stream(7L))
      val (d7, q7, p7) = stream(7L)
      val (d8, q8, _) = stream(8L)
      expect("index_stream: other seed, other batches", d7 != d8)
      expect("index_stream: other seed, other queries", q7 != q8)
      expect("index_stream: near-duplicates planted", p7.size > 30)

      val rows = Seq(Row(1L, 0.1 + 0.2, "x"), Row(2L, 1.5, null), Row(3L, -0.0, "y"))
      val reordered = Seq(rows(2), Row(1L, 0.3, "x"), rows(1))
      expect("digest: independent of row order and summation order",
        ResultDigest.of(rows.iterator) == ResultDigest.of(reordered.iterator))
      expect("digest: sensitive to values",
        ResultDigest.of(rows.iterator) != ResultDigest.of(Seq(Row(1L, 0.31, "x")).iterator))
      expect("quantile interpolates", Stats.quantile(Seq(4.0, 1.0, 3.0, 2.0), 0.5) == 2.5)
      expect("tail keeps ten samples beyond", Stats.tailQ(100) == 0.9 && Stats.tailQ(12) == 0.5)
    } finally Fs.rm(tmp)
    println(s"selftest: $passed passed, $failures failed")
    sys.exit(if (failures == 0) 0 else 1)
  }
}
