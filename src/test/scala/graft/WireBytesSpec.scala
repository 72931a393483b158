package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files
import java.util.regex.{Matcher, Pattern}

import graft.catalog.TargetSchema
import graft.cli.Args
import graft.functions.WireBytes
import graft.operators.{ShardSpec, TransformStage}
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

/** Parity of the byte-level text-load kernels ([[WireBytes]]) with the
  * Spark expressions they replace — `split(quote(d), -1)`, the
  * `translate` / `regexp_replace` sanitize chains and `regexp_extract` —
  * in compiled and interpreted evaluation, on CJK text, tabs,
  * backslashes, edge delimiters and malformed UTF-8. Values are
  * compared both as bytes (hex) and as decoded `String`s.
  */
class WireBytesSpec extends SparkSpec {

  import spark.implicits._

  /** Collects `build` compiled (codegen only, no whole-stage fallback,
    * so a compile error fails instead of silently interpreting) and
    * interpreted.
    */
  private def bothModes(build: => DataFrame): (Seq[Row], Seq[Row]) = {
    val confs = Seq("spark.sql.codegen.factoryMode", "spark.sql.codegen.fallback")
    val orig = confs.map(k => k -> spark.conf.getOption(k))
    try {
      spark.conf.set(confs(0), "CODEGEN_ONLY")
      spark.conf.set(confs(1), "false")
      val compiled = build.collect().toSeq
      spark.conf.set(confs(0), "NO_CODEGEN")
      (compiled, build.collect().toSeq)
    } finally orig.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  private def b(xs: Int*): Array[Byte] = xs.map(_.toByte).toArray
  private def u(s: String): Array[Byte] = s.getBytes(UTF_8)

  /** Test values as raw bytes: CJK, tabs, backslashes, delimiters at
    * the edges and in runs, the empty value, and malformed UTF-8
    * (encoded surrogates, truncated and stray continuation bytes, a
    * truncated CJK char before a whole one).
    */
  private val values: Seq[Array[Byte]] = Seq(
    u("2017-04-16|pc|弹\t幕\\|7575|\\N|"), u("|lead"), u("trail|"), u("||"), u(""),
    u("a||b|||c"), u("a.b.c"), u("x\\y\\\\z"), u("p弹q弹"), u("aaa"), u("::a::"),
    u("a\tb,c\\d"), u("no separators here"), u("首页推荐|歌单\\排行榜\t电台"),
    b(0xED, 0xA0, 0x80, '|', 0xC3, '|', 0xFF, '\\'), b(0xE4, '|', 0xB8),
    b(0x80), b('a', 0xF0, 0x9F, '|', 'b', '\t'), b(0xE5, 0xBC) ++ u("弹x"),
    b(0xED, 0xBF, 0xBF, '\\', 'a', 0xC0, 0x80), b('x', 0xED, 0xA0, 0x80, '|', 'y', '\t'))

  /** `values` as a string column `s` (with id and one null row) read
    * back from parquet, so the projections run in whole-stage codegen.
    */
  private lazy val frame: DataFrame = {
    val dir = Files.createTempDirectory("graft-wirebytes").resolve("v").toString
    (values.map(Option(_)) :+ None).zipWithIndex.map { case (v, i) => (i, v) }
      .toDF("id", "raw").coalesce(1).write.parquet(dir)
    spark.read.parquet(dir).select($"id", $"raw".cast("string").as("s"))
  }

  private def hexes(arr: Column): Column = transform(arr, x => hex(x.cast("binary")))

  /** Pairs (kernel, replaced expression) per row, compared in both modes. */
  private def assertParity(pairs: Seq[(Column, Column)], asHex: Column => Column): Unit = {
    def build = frame.select(($"id" +: pairs.flatMap { case (k, o) =>
      Seq(k, o, asHex(k), asHex(o)) }): _*).orderBy($"id")
    val (compiled, interpreted) = bothModes(build)
    assert(compiled == interpreted)
    assert(compiled.size == values.size + 1)
    compiled.foreach { r =>
      pairs.indices.foreach { p =>
        val at = 1 + 4 * p
        assert(r.get(at) == r.get(at + 1), s"row ${r.get(0)} pair $p: as String")
        assert(r.get(at + 2) == r.get(at + 3), s"row ${r.get(0)} pair $p: as bytes")
      }
    }
  }

  test("wire_split matches split(quote(d), -1) for | . \\ \\t and multi-byte " +
      "delimiters across eval modes") {
    val delims = Seq("|", ".", "\\", "\t", "||", "弹", "aa", "::", "$")
    assertParity(
      delims.map(d => WireBytes.split($"s", d) -> split($"s", Pattern.quote(d), -1)),
      hexes)
  }

  /** The sanitize this kernel replaced: `translate` for a one-char
    * separator and replaceChar, else two `regexp_replace` passes.
    */
  private def replacedSanitize(c: Column, sep: String, repl: String): Column =
    if (sep.length == 1 && repl.length == 1)
      translate(c, sep + "\\", repl.replace('\\', '/') + "/")
    else
      regexp_replace(regexp_replace(c, Pattern.quote(sep), Matcher.quoteReplacement(repl)),
        "\\\\", "/")

  test("wire_sanitize matches the translate and regexp_replace chains, incl. a " +
      "backslash replaceChar and multi-char separator/replaceChar, across eval modes") {
    val cases = Seq("\t" -> " ", "\t" -> "\\", "," -> "_", "|" -> "\\\\", "弹" -> "-",
      "||" -> "<>", "弹" -> "\\x", "\t" -> "", "aa" -> "b", "\\" -> "x", "\\" -> "\\\\",
      "::" -> "弹")
    assertParity(
      cases.map { case (sep, repl) =>
        WireBytes.sanitize($"s", sep, repl) -> replacedSanitize($"s", sep, repl) },
      c => hex(c.cast("binary")))
  }

  test("hive_value matches regexp_extract on changing paths across eval modes") {
    val paths = Seq("/w/t/dt=2017-01-07/hr=00/part-0", "/w/t/dt=2017-01-07/hr=00/part-0",
      "/w/t/dt=2017-01-08/hr=01/part-1", "/w/t/dt=2017-01-07/hr=00/part-0",
      "/w/nokeys/part-2", "/w/t/xdt=5/dt=6/x.y=z_1/part-3", "/w/t/dt=2017-01-08/hr=01/part-1")
    val dir = Files.createTempDirectory("graft-hivevalue").resolve("p").toString
    (paths.map(Option(_)) :+ None).zipWithIndex.map { case (p, i) => (i, p) }
      .toDF("id", "path").coalesce(1).write.parquet(dir)
    val keys = Seq("dt", "hr", "pt", "x.y")
    def build = spark.read.parquet(dir)
      .select(($"id" +: keys.flatMap(k => Seq(TransformStage.extractHivePartition($"path", k),
        regexp_extract($"path", Pattern.quote(k) + "=([0-9a-zA-Z_\\-]+)", 1)))): _*)
      .orderBy($"id")
    val (compiled, interpreted) = bothModes(build)
    assert(compiled == interpreted)
    compiled.foreach(r => keys.indices.foreach(k =>
      assert(r.get(1 + 2 * k) == r.get(2 + 2 * k), s"row ${r.get(0)} key ${keys(k)}")))
    assert(compiled.map(_.getString(1)) ==
      Seq("2017-01-07", "2017-01-07", "2017-01-08", "2017-01-07", "", "5", "2017-01-08", null))
  }

  test("sanitize returns an unchanged value itself and never writes into its input") {
    val sep = u("\t")
    val repl = u(" ")
    val clean = UTF8String.fromString("首页 推荐/歌单")
    assert(WireBytes.sanitize(clean, sep, repl) eq clean)
    val bytes = u("弹\t幕\\")
    val dirty = UTF8String.fromBytes(bytes)
    assert(dirty.getBytes eq bytes, "getBytes hands out the backing array")
    assert(WireBytes.sanitize(dirty, sep, repl).toString == "弹 幕/")
    assert(bytes.sameElements(u("弹\t幕\\")), "the input's bytes were rewritten")
  }

  test("split and sanitize agree with the String round trip on random bytes") {
    // biased to lead, continuation and boundary bytes of every UTF-8 form
    val pool = Seq(0x00, 0x61, 0x7c, 0x09, 0x5c, 0x7f, 0x80, 0x8f, 0x90, 0x9f, 0xa0, 0xbf,
      0xc0, 0xc1, 0xc2, 0xdf, 0xe0, 0xe1, 0xe5, 0xec, 0xed, 0xee, 0xef, 0xf0, 0xf1,
      0xf3, 0xf4, 0xf5, 0xff, 0xbc, 0xb9).map(_.toByte).toArray
    val ascii = u("0123456789abc|\t\\")
    val rnd = new scala.util.Random(3)
    val delims = Seq("|", "\t", "弹", "||")
    (0 until 200000).foreach { k =>
      // about half the bytes ASCII, so ASCII runs long enough to be
      // skipped a word at a time sit next to malformed bytes
      val v = Array.fill(rnd.nextInt(24))(
        if (rnd.nextBoolean()) ascii(rnd.nextInt(ascii.length)) else pool(rnd.nextInt(pool.length)))
      val s = UTF8String.fromBytes(v)
      val d = delims(k % delims.size)
      val viaString = s.toString
      def bytes = v.map(x => f"${x & 0xff}%02x").mkString(" ")
      if (WireBytes.split(s, u(d)).toSeq !=
          viaString.split(Pattern.quote(d), -1).toSeq.map(UTF8String.fromString))
        fail(s"split on $d of $bytes")
      // the kernel takes replaceChar with `\` already mapped to `/`
      if (WireBytes.sanitize(s, u(d), u("/")) !=
          UTF8String.fromString(viaString.replace(d, "\\").replace('\\', '/')))
        fail(s"sanitize of $d in $bytes")
    }
  }

  test("malformed UTF-8 loads as through the String round trip: sink rows and " +
      "staged columns") {
    val dir = Files.createTempDirectory("graft-malformed")
    val lines = Seq(u("a\\x|弹\t幕|\\N|7"), b(0xED, 0xA0, 0x80, '|', 0xC3, '\t', '|', 0xFF, '\\'),
      b('|', 0xE4, '|', 0xB8, 0x80, '|') ++ u("\\N"), u(""), b(0x80, '|', 0xE5, 0xBC) ++ u("弹|1"))
    Files.write(dir.resolve("part-0.txt"), lines.reduce(_ ++ Array('\n'.toByte) ++ _))
    val cfg = Args.parse(Seq("--export-dir", dir.toString, "--table", "t_malformed"))
    val target = TargetSchema.fromDDL("a STRING, b STRING, c STRING, d BIGINT")
    val loaded = graft.LoaderJob.mapSide(spark, cfg, target, ShardSpec(Seq(1)))

    // the replaced path: regex split, translate sanitize
    val fields = split($"value", Pattern.quote("|"), -1)
    val cols = target.schema.fields.toSeq.zipWithIndex.map { case (f, i) =>
      val c = get(fields, lit(i))
      val nullRepl = if (f.dataType == org.apache.spark.sql.types.StringType) "" else "0"
      when(c.isNull || c === "\\N", lit(nullRepl))
        .otherwise(translate(c, "\t\\", " /")).as(f.name)
    }
    val replaced = spark.read.text(dir.toString).select(cols: _*)
      .withColumn("wire_row", concat_ws("\t", target.schema.fieldNames.toSeq.map(col): _*))

    // the sink's boundary: wire rows as Strings
    def rows(df: DataFrame) = df.select("wire_row").as[String].collect().toSeq.sorted
    assert(rows(loaded) == rows(replaced))
    assert(rows(loaded).contains("a/x\t弹 幕\t\t7"))
    // the staged path's columns, as bytes
    def staged(df: DataFrame) = df.select(target.schema.fieldNames.toSeq.map(n =>
      hex(col(n).cast("binary"))): _*).collect().map(_.toSeq.mkString(",")).toSeq.sorted
    assert(staged(loaded) == staged(replaced))
  }
}
