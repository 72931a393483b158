package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.graft.Bridge.{column, expression}
import org.apache.spark.sql.types.{DataType, IntegerType}
import org.apache.spark.unsafe.types.UTF8String

/** MurmurHash3 x64 128-bit (public-domain algorithm by Austin Appleby),
  * over the UTF-16LE code units of a string — byte-for-byte compatible
  * with guava's `Hashing.murmur3_128().hashUnencodedChars(s)`, which is
  * what the reference loader shards rows with
  * (`AbstractClickhouseLoaderMapper.java:60,277` — the deprecated
  * `hashString(CharSequence)` overload = hashUnencodedChars).
  *
  * Spark's builtin `hash` is murmur3_32 and `xxhash64` is a different
  * algorithm, so exact parity needs this custom implementation; it is
  * exposed as a codegen-friendly Catalyst expression below.
  */
object Murmur3 {
  private final val C1 = 0x87c37b91114253d5L
  private final val C2 = 0x4cf5ad432745937fL

  private def fmix64(k0: Long): Long = {
    var k = k0
    k ^= k >>> 33
    k *= 0xff51afd7ed558ccdL
    k ^= k >>> 33
    k *= 0xc4ceb9fe1a85ec53L
    k ^= k >>> 33
    k
  }

  /** 128-bit hash of the UTF-16LE bytes of `s`; returns (h1, h2). */
  def hashUnencodedChars(s: CharSequence): (Long, Long) = {
    val nChars = s.length
    val lenBytes = nChars * 2
    var h1 = 0L
    var h2 = 0L

    // 16-byte blocks = 8 chars, each char little-endian 2 bytes.
    val nBlocks = nChars / 8
    var b = 0
    while (b < nBlocks) {
      val i = b * 8
      var k1 = charsToLong(s, i)
      var k2 = charsToLong(s, i + 4)
      k1 *= C1; k1 = java.lang.Long.rotateLeft(k1, 31); k1 *= C2; h1 ^= k1
      h1 = java.lang.Long.rotateLeft(h1, 27); h1 += h2; h1 = h1 * 5 + 0x52dce729L
      k2 *= C2; k2 = java.lang.Long.rotateLeft(k2, 33); k2 *= C1; h2 ^= k2
      h2 = java.lang.Long.rotateLeft(h2, 31); h2 += h1; h2 = h2 * 5 + 0x38495ab5L
      b += 1
    }

    // Tail: remaining 0..7 chars (0..14 bytes, always even).
    val tailStart = nBlocks * 8
    val remChars = nChars - tailStart
    if (remChars > 0) {
      var k1 = 0L
      var k2 = 0L
      var j = 0
      while (j < remChars) {
        val v = s.charAt(tailStart + j).toLong // 2 bytes LE
        val byteOff = j * 2
        if (byteOff < 8) k1 ^= v << (byteOff * 8)
        else k2 ^= v << ((byteOff - 8) * 8)
        j += 1
      }
      if (remChars > 4) {
        k2 *= C2; k2 = java.lang.Long.rotateLeft(k2, 33); k2 *= C1; h2 ^= k2
      }
      k1 *= C1; k1 = java.lang.Long.rotateLeft(k1, 31); k1 *= C2; h1 ^= k1
    }

    h1 ^= lenBytes; h2 ^= lenBytes
    h1 += h2; h2 += h1
    h1 = fmix64(h1); h2 = fmix64(h2)
    h1 += h2; h2 += h1
    (h1, h2)
  }

  /** 4 chars at offset `i` → one little-endian long (8 bytes). */
  private def charsToLong(s: CharSequence, i: Int): Long =
    (s.charAt(i).toLong) |
      (s.charAt(i + 1).toLong << 16) |
      (s.charAt(i + 2).toLong << 32) |
      (s.charAt(i + 3).toLong << 48)

  /** guava `HashCode.asInt()` = first 4 bytes of the hash, little-endian
    * = low 32 bits of h1.
    */
  def hashStringAsInt(s: CharSequence): Int =
    hashUnencodedChars(s)._1.toInt

  /** The reference's shard code: `asInt() & Integer.MAX_VALUE`
    * (AbstractClickhouseLoaderMapper.java:277).
    */
  def shardCode(s: CharSequence): Int =
    hashStringAsInt(s) & Int.MaxValue

  /** h1 as a stable 64-bit hash (codegen entry point). */
  def hash64(s: CharSequence): Long = hashUnencodedChars(s)._1
}

/** Catalyst expression: murmur3_128(str) h1 as a 64-bit hash — the
  * stable shingle/token hash used by minhash/simhash (cheaper and
  * better-distributed than 32-bit, deterministic across sessions,
  * unlike Spark's seed-dependent `hash`).
  */
case class Murmur3Hash64(child: Expression) extends UnaryExpression {
  override def dataType: DataType = org.apache.spark.sql.types.LongType
  override def nullSafeEval(v: Any): Any =
    Murmur3.hashUnencodedChars(v.asInstanceOf[UTF8String].toString)._1
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.Murmur3.hash64($c.toString())")
  override protected def withNewChildInternal(c: Expression): Murmur3Hash64 = copy(c)
}

object Murmur3Hash64 {
  def hash64(c: Column): Column = column(Murmur3Hash64(expression(c)))
}

/** Catalyst expression: murmur3_128(str).asInt() & Int.MaxValue.
  * Codegen emits a static call, so it stays inside whole-stage codegen
  * (no UDF serialization, no row-at-a-time iterator break).
  */
case class Murmur3ShardCode(child: Expression) extends UnaryExpression {
  override def dataType: DataType = IntegerType
  override def nullSafeEval(v: Any): Any =
    Murmur3.shardCode(v.asInstanceOf[UTF8String].toString)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.Murmur3.shardCode($c.toString())")
  override protected def withNewChildInternal(c: Expression): Murmur3ShardCode = copy(c)
}

object Murmur3ShardCode {
  /** Column API: non-negative murmur3_128-based shard code of a string. */
  def shard_code(c: Column): Column = column(Murmur3ShardCode(expression(c)))
}
