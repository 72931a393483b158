package graft.functions

import java.nio.charset.StandardCharsets.UTF_8
import java.util.regex.Pattern

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.graft.Bridge.{column, expression}
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** The text load's per-row kernels (SURVEY.md §2.A ops #3, #7, #8) on
  * UTF-8 bytes: line split, sanitize and hive-partition value.
  *
  * Spark's `split`, `translate` and `regexp_*` each decode the value to
  * a Java `String`, run a regex or a per-char map lookup, and encode the
  * result back. These kernels scan the bytes instead: UTF-8 is
  * self-synchronising, so a byte match of a valid UTF-8 literal is a
  * match of its chars. Split fields are views into the line, and
  * sanitize returns its input when there is nothing to replace.
  *
  * Malformed input comes out as it did through the `String` round trip:
  * a value with invalid bytes is first decoded to `String` (U+FFFD for
  * each malformed sequence, as Java decodes it) and re-encoded.
  * `UTF8String.makeValid` is not used: it replaces an encoded surrogate
  * (`ED A0..BF xx`) with three U+FFFD where Java's decoder writes one.
  */
object WireBytes {

  private final val Backslash = '\\'.toByte
  private final val Slash = '/'.toByte
  private val WordLoads = Platform.unaligned()

  private[functions] def utf8(s: String): Array[Byte] = s.getBytes(UTF_8)

  /** `s`, or its `String` round trip when it holds malformed UTF-8.
    * `hi` is the OR of the bytes already scanned: an all-ASCII value is
    * valid without a second scan.
    */
  private def decoded(s: UTF8String, hi: Int): UTF8String =
    if ((hi & 0x80) == 0 || wellFormed(s.getBaseObject, s.getBaseOffset, s.numBytes)) s
    else UTF8String.fromString(s.toString)

  /** Whether `n` bytes at `off` are well-formed UTF-8 (Unicode Table 3-7:
    * no overlong forms, surrogates or code points past U+10FFFF), the
    * bytes Java's decoder maps to themselves: the answer of
    * `UTF8String.isValid` without its per-code-point decode.
    */
  private def wellFormed(base: AnyRef, off: Long, n: Int): Boolean = {
    def at(i: Int): Int = Platform.getByte(base, off + i) & 0xff
    def cont(i: Int): Boolean = (at(i) & 0xc0) == 0x80
    var i = 0
    while (i < n) {
      val b = at(i)
      // eight ASCII bytes at a time (where unaligned loads are allowed)
      if (b < 0x80 && WordLoads && i + 8 <= n &&
          (Platform.getLong(base, off + i) & 0x8080808080808080L) == 0) i += 8
      else if (b < 0x80) i += 1
      else if (b >= 0xc2 && b <= 0xdf) {
        if (i + 1 >= n || !cont(i + 1)) return false
        i += 2
      } else if (b >= 0xe0 && b <= 0xef) {
        if (i + 2 >= n) return false
        val b1 = at(i + 1)
        if (b1 < (if (b == 0xe0) 0xa0 else 0x80) || b1 > (if (b == 0xed) 0x9f else 0xbf) ||
            !cont(i + 2)) return false
        i += 3
      } else if (b >= 0xf0 && b <= 0xf4) {
        if (i + 3 >= n) return false
        val b1 = at(i + 1)
        if (b1 < (if (b == 0xf0) 0x90 else 0x80) || b1 > (if (b == 0xf4) 0x8f else 0xbf) ||
            !cont(i + 2) || !cont(i + 3)) return false
        i += 4
      } else return false
    }
    true
  }

  /** Whether `d` occurs in `base` at `at` (`d.length` bytes in range). */
  private def matchAt(base: AnyRef, at: Long, d: Array[Byte]): Boolean = {
    var j = 1 // the caller matched d(0)
    while (j < d.length && Platform.getByte(base, at + j) == d(j)) j += 1
    j == d.length
  }

  /** `line.split(Pattern.quote(delim), -1)`: trailing empty fields are
    * kept and `""` splits to `[""]`. Fields are views into the line.
    */
  def split(line0: UTF8String, delim: Array[Byte]): Array[UTF8String] = {
    val base = line0.getBaseObject
    val off = line0.getBaseOffset
    val n = line0.numBytes
    val d0 = delim(0)
    val last = n - delim.length
    // pass 1: count the fields and note any non-ASCII byte
    var hi = 0
    var fields = 1
    var i = 0
    while (i < n) {
      val b = Platform.getByte(base, off + i)
      hi |= b
      if (b == d0 && i <= last && matchAt(base, off + i, delim)) {
        fields += 1
        i += delim.length
      } else i += 1
    }
    val line = decoded(line0, hi)
    if (line ne line0) return split(line, delim)
    // pass 2: cut
    val out = new Array[UTF8String](fields)
    var f = 0
    var start = 0
    i = 0
    while (i <= last) {
      if (Platform.getByte(base, off + i) == d0 && matchAt(base, off + i, delim)) {
        out(f) = UTF8String.fromAddress(base, off + start, i - start)
        f += 1
        i += delim.length
        start = i
      } else i += 1
    }
    out(f) = UTF8String.fromAddress(base, off + start, n - start)
    out
  }

  /** Op #7: `replaceAll(replaceAll(s, sep, repl), "\\", "/")` — the
    * reference's order, so a backslash in `repl` ends as `/`. `repl` is
    * passed with that mapping already applied. Returns `s` itself when
    * it holds neither `sep` nor a backslash (and is valid UTF-8); never
    * writes into `s`'s bytes.
    */
  def sanitize(s0: UTF8String, sep: Array[Byte], repl: Array[Byte]): UTF8String = {
    val base = s0.getBaseObject
    val off = s0.getBaseOffset
    val n = s0.numBytes
    val d0 = sep(0)
    val last = n - sep.length
    var hi = 0
    var i = 0
    var hit = -1
    while (i < n && hit < 0) {
      val b = Platform.getByte(base, off + i)
      hi |= b
      if (b == Backslash || (b == d0 && i <= last && matchAt(base, off + i, sep))) hit = i
      else i += 1
    }
    // a hit stops the search early: finish the validity scan
    while (i < n) { hi |= Platform.getByte(base, off + i); i += 1 }
    val s = decoded(s0, hi)
    if (s ne s0) sanitize(s, sep, repl)
    else if (hit < 0) s0
    else rewrite(base, off, n, hit, sep, repl)
  }

  /** The copy of [[sanitize]]: bytes before `from` are copied as they
    * are, the rest with `sep` → `repl` then `\` → `/`.
    */
  private def rewrite(base: AnyRef, off: Long, n: Int, from: Int,
      sep: Array[Byte], repl: Array[Byte]): UTF8String = {
    val d0 = sep(0)
    val last = n - sep.length
    val grow = repl.length - sep.length
    // exact size when sep and repl are as long (the common case: one
    // byte each), else the worst case of every byte starting a match
    val cap = if (grow <= 0) n else n + (n / sep.length) * grow
    var out = new Array[Byte](cap)
    Platform.copyMemory(base, off, out, Platform.BYTE_ARRAY_OFFSET, from)
    var o = from
    var i = from
    while (i < n) {
      val b = Platform.getByte(base, off + i)
      if (b == d0 && i <= last && matchAt(base, off + i, sep)) {
        System.arraycopy(repl, 0, out, o, repl.length)
        o += repl.length
        i += sep.length
      } else {
        out(o) = if (b == Backslash) Slash else b
        o += 1
        i += 1
      }
    }
    if (o != out.length) out = java.util.Arrays.copyOf(out, o)
    UTF8String.fromBytes(out)
  }

  /** Op #8: group 1 of the first `pattern` match in `path`, or `""` —
    * `regexp_extract(path, pattern, 1)`.
    */
  def hiveValue(pattern: Pattern, path: UTF8String): UTF8String = {
    val m = pattern.matcher(path.toString)
    if (m.find()) UTF8String.fromString(m.group(1)) else UTF8String.EMPTY_UTF8
  }

  /** Column API: split `line` on the literal `delim` (see [[split]]). */
  def split(line: Column, delim: String): Column = column(WireSplit(expression(line), delim))

  /** Column API: sanitize a value (see the bytes [[sanitize]]). */
  def sanitize(c: Column, sep: String, replaceChar: String): Column =
    column(WireSanitize(expression(c), sep, replaceChar))

  /** Column API: `regexp_extract(path, regex, 1)` (see the bytes [[hiveValue]]). */
  def hiveValue(path: Column, regex: String): Column = column(HiveValue(expression(path), regex))
}

/** Catalyst expression of [[WireBytes.split]]. */
case class WireSplit(child: Expression, delim: String) extends UnaryExpression {
  require(delim.nonEmpty, "split delimiter must not be empty")
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "wire_split"

  @transient private lazy val delimBytes = WireBytes.utf8(delim)

  override def nullSafeEval(v: Any): Any =
    new GenericArrayData(WireBytes.split(v.asInstanceOf[UTF8String], delimBytes)
      .asInstanceOf[Array[Any]])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val d = ctx.addReferenceObj("splitDelim", delimBytes, "byte[]")
    defineCodeGen(ctx, ev, c =>
      s"new org.apache.spark.sql.catalyst.util.GenericArrayData(" +
        s"graft.functions.WireBytes.split($c, $d))")
  }

  override protected def withNewChildInternal(c: Expression): WireSplit = copy(child = c)
}

/** Catalyst expression of [[WireBytes.sanitize]]. */
case class WireSanitize(child: Expression, sep: String, replaceChar: String)
    extends UnaryExpression {
  require(sep.nonEmpty, "sanitize separator must not be empty")
  override def dataType: DataType = StringType
  override def prettyName: String = "wire_sanitize"

  @transient private lazy val sepBytes = WireBytes.utf8(sep)
  @transient private lazy val replBytes = WireBytes.utf8(replaceChar.replace('\\', '/'))

  override def nullSafeEval(v: Any): Any =
    WireBytes.sanitize(v.asInstanceOf[UTF8String], sepBytes, replBytes)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val s = ctx.addReferenceObj("sanitizeSep", sepBytes, "byte[]")
    val r = ctx.addReferenceObj("sanitizeRepl", replBytes, "byte[]")
    defineCodeGen(ctx, ev, c => s"graft.functions.WireBytes.sanitize($c, $s, $r)")
  }

  override protected def withNewChildInternal(c: Expression): WireSanitize = copy(child = c)
}

/** Catalyst expression of [[WireBytes.hiveValue]]. The compiled code
  * keeps the last path and its value, so over `input_file_name()` the
  * regex runs once per file, not once per row.
  */
case class HiveValue(child: Expression, regex: String) extends UnaryExpression {
  override def dataType: DataType = StringType
  override def prettyName: String = "hive_value"

  @transient private lazy val pattern = Pattern.compile(regex)

  override def nullSafeEval(v: Any): Any =
    WireBytes.hiveValue(pattern, v.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val p = ctx.addReferenceObj("hivePattern", pattern, "java.util.regex.Pattern")
    val utf8 = "org.apache.spark.unsafe.types.UTF8String"
    val lastPath = ctx.addMutableState(utf8, "hiveLastPath")
    val lastValue = ctx.addMutableState(utf8, "hiveLastValue")
    nullSafeCodeGen(ctx, ev, c =>
      s"""
         |if (!$c.equals($lastPath)) {
         |  $lastPath = $c.clone();
         |  $lastValue = graft.functions.WireBytes.hiveValue($p, $c);
         |}
         |${ev.value} = $lastValue;
       """.stripMargin)
  }

  override protected def withNewChildInternal(c: Expression): HiveValue = copy(child = c)
}
