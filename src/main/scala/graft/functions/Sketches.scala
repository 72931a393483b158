package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graft.Bridge.{column, expression}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}
import org.apache.spark.unsafe.types.UTF8String

// Native sketch expressions: single-pass JVM loops replacing chains
// of interpreted higher-order functions (transform/aggregate lambdas
// run row-at-a-time in Spark) on the hot dedup/ANN paths.
//
// Each expression's kernel lives as a static method on `SketchOps`
// and `doGenCode` emits a direct static call — the expression stays
// inside whole-stage codegen (same pattern as `Murmur3Hash64`), no
// CodegenFallback virtual `eval(InternalRow)` round-trip and no
// interpreted-projection fallback in the surrounding span.

/** Static kernels shared by interpreted eval and generated code.
  * Plain object → the compiler emits static forwarders, so janino can
  * call `graft.functions.SketchOps.m(...)` like any Java static.
  */
object SketchOps {

  /** Distinct murmur3-64 hashes of word n-gram shingles, one pass. */
  def shingleHashes(v: UTF8String, n: Int): ArrayData = {
    val tokens = v.toString.split(" ", -1)
    if (tokens.length < n) return new GenericArrayData(Array.emptyLongArray)
    val seen = new java.util.LinkedHashSet[java.lang.Long]()
    val sb = new java.lang.StringBuilder(64)
    var i = 0
    while (i <= tokens.length - n) {
      sb.setLength(0)
      var j = 0
      while (j < n) {
        if (j > 0) sb.append(' ')
        sb.append(tokens(i + j))
        j += 1
      }
      seen.add(Murmur3.hash64(sb))
      i += 1
    }
    val out = new Array[Long](seen.size)
    val it = seen.iterator()
    var k = 0
    while (it.hasNext) { out(k) = it.next(); k += 1 }
    new GenericArrayData(out)
  }

  /** All four repetition-signal counts in ONE tokenize pass —
    * (n, distinct, topTok, topBig, triUniq), the integer numerators/
    * denominators behind IngestDashboard.repSignals' ratios. Replaces
    * five separate passes (split ×2, array_distinct, two interpreted
    * aggregate-lambda maxMultiplicity runs, shingle hashing) with one
    * split + two string-count maps + one hash set; the emitted counts
    * are EXACTLY the column-formula values (same " "-regex split with
    * trailing empties, same space-joined bigrams, same murmur3-64
    * trigram shingles), so the downstream double ratios are
    * bit-identical (pinned in TextFunctionsSpec).
    */
  def repStats(v: UTF8String):
      org.apache.spark.sql.catalyst.expressions.GenericInternalRow = {
    val toks = v.toString.split(" ", -1)
    val n = toks.length
    val tokCount = new java.util.HashMap[String, Integer]()
    var topTok = 0
    var i = 0
    while (i < n) {
      val c = tokCount.merge(toks(i), Integer.valueOf(1),
        (a: Integer, b: Integer) => Integer.valueOf(a.intValue + b.intValue))
      if (c.intValue > topTok) topTok = c.intValue
      i += 1
    }
    val distinct = tokCount.size
    var topBig = 0
    if (n >= 2) {
      val bigCount = new java.util.HashMap[String, Integer]()
      i = 0
      while (i < n - 1) {
        val c = bigCount.merge(toks(i) + " " + toks(i + 1), Integer.valueOf(1),
          (a: Integer, b: Integer) => Integer.valueOf(a.intValue + b.intValue))
        if (c.intValue > topBig) topBig = c.intValue
        i += 1
      }
    }
    var triUniq = 0
    if (n >= 3) {
      val seen = new java.util.HashSet[java.lang.Long]()
      val sb = new java.lang.StringBuilder(64)
      i = 0
      while (i <= n - 3) {
        sb.setLength(0)
        sb.append(toks(i)).append(' ').append(toks(i + 1))
          .append(' ').append(toks(i + 2))
        seen.add(Murmur3.hash64(sb))
        i += 1
      }
      triUniq = seen.size
    }
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](n, distinct, topTok, topBig, triUniq))
  }

  /** Multi-table hyperplane LSH buckets of a quantized vector. */
  def lshBuckets(v: ArrayData, signs: Array[Array[Int]], nTables: Int,
      nPlanes: Int, dim: Int): ArrayData = {
    val nd = math.min(dim, v.numElements())
    val out = new Array[Long](nTables)
    var t = 0
    while (t < nTables) {
      val s = signs(t)
      var bucket = 0L
      var p = 0
      while (p < nPlanes) {
        var dot = 0L
        var d = 0
        val base = p * dim
        while (d < nd) { dot += v.getLong(d) * s(base + d); d += 1 }
        if (dot > 0) bucket |= (1L << p)
        p += 1
      }
      out(t) = bucket
      t += 1
    }
    new GenericArrayData(out)
  }

  /** Multi-probe LSH buckets: per table, the exact bucket followed by
    * `nProbe - 1` perturbed variants in NONDECREASING total-margin
    * order — the full perturbation sequence of Lv et al. (VLDB'07,
    * public algorithm), not just single flips: subsets of planes are
    * enumerated by the sum of their |margin|s via the classic
    * min-heap successor rule (from the subset whose largest
    * sorted-order element is j, push "extend" S∪{j+1} and "shift"
    * S∖{j}∪{j+1} — every subset is generated exactly once), so probe
    * k is the k-th most likely bucket for a missed near neighbor and
    * nProbe can exceed the plane count (up to 2^planes buckets).
    * The first three probes (exact, flip the smallest margin, flip
    * the second-smallest) coincide with the old single-flip order, so
    * nProbe ≤ 3 callers (the q227 gate) see identical buckets.
    * Output layout: `nTables * nProbe` longs, table t's probes at
    * `[t*nProbe, (t+1)*nProbe)`; if the subset space is exhausted
    * (nProbe > 2^planes − 1) the exact bucket pads the tail (probes
    * de-duplicate downstream).
    */
  def lshProbes(v: ArrayData, signs: Array[Array[Int]], nTables: Int,
      nPlanes: Int, dim: Int, nProbe: Int): ArrayData = {
    val nd = math.min(dim, v.numElements())
    val out = new Array[Long](nTables * nProbe)
    val absDots = new Array[Long](nPlanes)
    var t = 0
    while (t < nTables) {
      val s = signs(t)
      var bucket = 0L
      var p = 0
      while (p < nPlanes) {
        var dot = 0L
        var d = 0
        val base = p * dim
        while (d < nd) { dot += v.getLong(d) * s(base + d); d += 1 }
        if (dot > 0) bucket |= (1L << p)
        absDots(p) = math.abs(dot)
        p += 1
      }
      out(t * nProbe) = bucket
      if (nProbe > 1) {
        // margins ascending (ties by plane index — deterministic);
        // selection sort: nPlanes ≤ 64, no boxing
        val order = Array.range(0, nPlanes)
        var a = 0
        while (a < nPlanes - 1) {
          var best = a
          var i = a + 1
          while (i < nPlanes) {
            if (absDots(order(i)) < absDots(order(best)) ||
                (absDots(order(i)) == absDots(order(best)) &&
                  order(i) < order(best)))
              best = i
            i += 1
          }
          val tmp = order(a); order(a) = order(best); order(best) = tmp
          a += 1
        }
        // min-heap of (cost = Σ|margin|, subset bitmask over SORTED
        // positions, largest sorted position in the subset)
        val heap = new java.util.PriorityQueue[Array[Long]](
          (a: Array[Long], b: Array[Long]) => {
            val c = java.lang.Long.compare(a(0), b(0))
            if (c != 0) c else java.lang.Long.compare(a(1), b(1))
          })
        heap.add(Array(absDots(order(0)), 1L, 0L))
        var j = 1
        while (j < nProbe) {
          val top = heap.poll()
          if (top == null) { out(t * nProbe + j) = bucket }
          else {
            val mask = top(1); val maxPos = top(2).toInt
            var flip = 0L
            var q = 0
            while (q < nPlanes) {
              if ((mask & (1L << q)) != 0L) flip |= 1L << order(q)
              q += 1
            }
            out(t * nProbe + j) = bucket ^ flip
            if (maxPos + 1 < nPlanes) {
              val nextCost = absDots(order(maxPos + 1))
              heap.add(Array(top(0) + nextCost,
                mask | (1L << (maxPos + 1)), (maxPos + 1).toLong))
              heap.add(Array(top(0) - absDots(order(maxPos)) + nextCost,
                (mask ^ (1L << maxPos)) | (1L << (maxPos + 1)),
                (maxPos + 1).toLong))
            }
          }
          j += 1
        }
      }
      t += 1
    }
    new GenericArrayData(out)
  }

  /** Elementwise-min MinHash signature of a shingle-hash set. */
  def minHashSig(v: ArrayData, k: Int): ArrayData = {
    val n = v.numElements()
    val out = Array.fill(k)(Long.MaxValue)
    var j = 0
    while (j < n) {
      Mix64.minInto(out, v.getLong(j))
      j += 1
    }
    new GenericArrayData(out)
  }

  /** LSH band buckets of a MinHash signature. */
  def bandBuckets(v: ArrayData, bands: Int, rowsPerBand: Int): ArrayData = {
    val out = new Array[Long](bands)
    var b = 0
    while (b < bands) {
      var acc = b.toLong
      var r = 0
      while (r < rowsPerBand) {
        acc = Mix64.mix(acc ^ v.getLong(b * rowsPerBand + r))
        r += 1
      }
      out(b) = acc
      b += 1
    }
    new GenericArrayData(out)
  }

  /** Intersection size of two sorted, duplicate-free long arrays
    * (one linear merge pass).
    */
  def sortedIntersectCount(a: ArrayData, b: ArrayData): Long = {
    val na = a.numElements()
    val nb = b.numElements()
    var i = 0
    var j = 0
    var c = 0L
    while (i < na && j < nb) {
      val x = a.getLong(i)
      val y = b.getLong(j)
      if (x == y) { c += 1; i += 1; j += 1 }
      else if (x < y) i += 1
      else j += 1
    }
    c
  }

  /** 64-bit SimHash of a whitespace-tokenized document. */
  def simHash64(v: UTF8String): Long = {
    val tokens = v.toString.split(" ", -1)
    val sums = new Array[Int](64)
    var t = 0
    while (t < tokens.length) {
      val h = Murmur3.hash64(tokens(t))
      var i = 0
      while (i < 64) {
        if (((h >>> i) & 1L) == 1L) sums(i) += 1 else sums(i) -= 1
        i += 1
      }
      t += 1
    }
    var sketch = 0L
    var i = 0
    while (i < 64) {
      if (sums(i) > 0) sketch |= (1L << i)
      i += 1
    }
    sketch
  }

  /** Rolling polynomial fingerprint over Unicode code points. */
  def fingerprint64(v: UTF8String): Long = {
    val s = v.toString
    var acc = 0L
    var i = 0
    while (i < s.length) {
      val cp = s.codePointAt(i)
      acc = (acc * 31 + cp) % 1000000007L
      i += Character.charCount(cp)
    }
    acc
  }

  /** Unicode NFC; returns the input object untouched when already
    * normalized (no re-encode on the common path).
    */
  def nfc(v: UTF8String): UTF8String = {
    val s = v.toString
    if (java.text.Normalizer.isNormalized(s, java.text.Normalizer.Form.NFC)) v
    else UTF8String.fromString(
      java.text.Normalizer.normalize(s, java.text.Normalizer.Form.NFC))
  }
}

/** Distinct murmur3-64 hashes of word n-gram shingles, in one pass:
  * split + shingle + hash + dedup without materializing shingle
  * strings in the plan. Semantically identical to
  * `array_distinct(transform(...))` + `hash64` (DedupSpec pins both).
  */
case class ShingleHash64(child: Expression, n: Int) extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def nullSafeEval(v: Any): Any =
    SketchOps.shingleHashes(v.asInstanceOf[UTF8String], n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.SketchOps.shingleHashes($c, $n)")

  override protected def withNewChildInternal(c: Expression): ShingleHash64 = copy(child = c)
}

object ShingleHash64 {
  def shingle_hashes(text: Column, n: Int): Column =
    column(ShingleHash64(expression(text), n))
}

/** One-pass repetition-signal counts of a document —
  * struct(n, distinct, topTok, topBig, triUniq); see
  * [[SketchOps.repStats]]. The dominant cost of the composed ingest
  * dashboard at scale was this family's five separate text passes
  * (SCALE.md, sf100: 120.9 s of the 122.8 s separate total).
  */
case class RepStats(child: Expression) extends UnaryExpression {
  override def dataType: DataType =
    org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("n",
        org.apache.spark.sql.types.IntegerType, nullable = false),
      org.apache.spark.sql.types.StructField("distinct",
        org.apache.spark.sql.types.IntegerType, nullable = false),
      org.apache.spark.sql.types.StructField("topTok",
        org.apache.spark.sql.types.IntegerType, nullable = false),
      org.apache.spark.sql.types.StructField("topBig",
        org.apache.spark.sql.types.IntegerType, nullable = false),
      org.apache.spark.sql.types.StructField("triUniq",
        org.apache.spark.sql.types.IntegerType, nullable = false)))

  override def nullSafeEval(v: Any): Any =
    SketchOps.repStats(v.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.SketchOps.repStats($c)")

  override protected def withNewChildInternal(c: Expression): RepStats = copy(child = c)
}

object RepStats {
  def rep_stats(text: Column): Column = column(RepStats(expression(text)))
}

/** Multi-table random-hyperplane LSH buckets for a quantized vector:
  * one `array<long>` with `nTables` bucket ids (each `nPlanes` sign
  * bits). The ±1 plane matrix is derived from murmur hashes of
  * (table, plane, dim) — deterministic, precomputed once per
  * expression instance and embedded in the generated class as a
  * reference object, zero closure state shipped per row.
  */
case class LshBuckets(child: Expression, nTables: Int, nPlanes: Int, dim: Int)
    extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  @transient private lazy val signs: Array[Array[Int]] =
    Array.tabulate(nTables, nPlanes * dim) { (t, pd) =>
      LshBuckets.planeSign(t, pd / dim, pd % dim)
    }

  override def nullSafeEval(v: Any): Any =
    SketchOps.lshBuckets(v.asInstanceOf[ArrayData], signs, nTables, nPlanes, dim)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val signsRef = ctx.addReferenceObj("lshSigns", signs, "int[][]")
    defineCodeGen(ctx, ev,
      c => s"graft.functions.SketchOps.lshBuckets($c, $signsRef, $nTables, $nPlanes, $dim)")
  }

  override protected def withNewChildInternal(c: Expression): LshBuckets = copy(child = c)
}

object LshBuckets {
  def lsh_buckets(qv: Column, nTables: Int, nPlanes: Int, dim: Int): Column =
    column(LshBuckets(expression(qv), nTables, nPlanes, dim))

  /** Deterministic ±1 hyperplane component for (table, plane, dim). */
  def planeSign(table: Int, plane: Int, dim: Int): Int =
    if ((Murmur3.hash64(s"$table:$plane:$dim") & 1L) == 0L) -1 else 1
}

/** Multi-probe variant of [[LshBuckets]]: per table, the exact bucket
  * plus `nProbe - 1` perturbed buckets in nondecreasing total-margin
  * order (the full Lv et al. perturbation sequence — multi-bit flips
  * included, see [[SketchOps.lshProbes]]) — same plane matrix, so a
  * probe set is a superset of the exact bucket, grows monotonically
  * with nProbe, and member-side bucketing needs no change.
  */
case class LshProbes(child: Expression, nTables: Int, nPlanes: Int, dim: Int,
    nProbe: Int) extends UnaryExpression {
  // the perturbation-sequence heap enumerates up to 2^nPlanes buckets;
  // 4·nPlanes is a sanity cap (a probe budget past that is telling
  // you to raise nTables, not nProbe)
  require(nProbe >= 1 && nProbe <= 4 * nPlanes,
    s"nProbe must be in [1, 4*nPlanes], got $nProbe for $nPlanes planes")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  @transient private lazy val signs: Array[Array[Int]] =
    Array.tabulate(nTables, nPlanes * dim) { (t, pd) =>
      LshBuckets.planeSign(t, pd / dim, pd % dim)
    }

  override def nullSafeEval(v: Any): Any =
    SketchOps.lshProbes(v.asInstanceOf[ArrayData], signs, nTables, nPlanes, dim, nProbe)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val signsRef = ctx.addReferenceObj("lshSigns", signs, "int[][]")
    defineCodeGen(ctx, ev,
      c => s"graft.functions.SketchOps.lshProbes($c, $signsRef, $nTables, $nPlanes, $dim, $nProbe)")
  }

  override protected def withNewChildInternal(c: Expression): LshProbes = copy(child = c)
}

object LshProbes {
  def lsh_probes(qv: Column, nTables: Int, nPlanes: Int, dim: Int, nProbe: Int): Column =
    column(LshProbes(expression(qv), nTables, nPlanes, dim, nProbe))
}

/** Intersection size of two sorted duplicate-free `array<long>`
  * columns — the exact-verification primitive of the jaccard dedup
  * paths. One linear merge per row, inside whole-stage codegen; the
  * alternative (explode both sides + equi-join + count) shuffles every
  * shingle of every candidate pair.
  */
case class SortedIntersectCount(left: Expression, right: Expression)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression {
  override def dataType: DataType = LongType

  override def nullSafeEval(a: Any, b: Any): Any =
    SketchOps.sortedIntersectCount(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.SketchOps.sortedIntersectCount($a, $b)")

  override protected def withNewChildrenInternal(l: Expression, r: Expression): SortedIntersectCount =
    copy(left = l, right = r)
}

object SortedIntersectCount {
  def sorted_intersect_count(a: Column, b: Column): Column =
    column(SortedIntersectCount(expression(a), expression(b)))
}

/** Shared 64-bit mixing for sketches (splitmix64 finalizer — public
  * algorithm, Steele et al., "Fast Splittable Pseudorandom Number
  * Generators").
  */
object Mix64 {
  final val Gamma = 0x9E3779B97F4A7C15L
  def mix(z0: Long): Long = {
    var z = z0
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }
  /** i-th hash-family member applied to h. */
  def family(i: Int, h: Long): Long = mix(h + i * Gamma)

  /** Fold one element hash into a k-slot elementwise-min signature
    * buffer — shared by the per-row [[MinHashSig]] expression and the
    * [[MinHashAgg]] aggregate so per-doc and group signatures stay
    * bit-comparable.
    */
  def minInto(buf: Array[Long], h: Long): Unit = {
    var i = 0
    while (i < buf.length) {
      val m = family(i, h)
      if (m < buf(i)) buf(i) = m
      i += 1
    }
  }
}

/** MinHash signature of a shingle-hash set in one pass: element i is
  * min over the set of the i-th family hash. Replaces the
  * explode + k-column min-aggregate formulation — per-doc map-side
  * work with NO shuffle, which is both ~10× faster here and the shape
  * that scales (signatures of a 100 TB corpus are one narrow pass).
  */
case class MinHashSig(child: Expression, k: Int) extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def nullSafeEval(v: Any): Any =
    SketchOps.minHashSig(v.asInstanceOf[ArrayData], k)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.SketchOps.minHashSig($c, $k)")

  override protected def withNewChildInternal(c: Expression): MinHashSig = copy(child = c)
}

object MinHashSig {
  def minhash_sig(shingleHashes: Column, k: Int): Column =
    column(MinHashSig(expression(shingleHashes), k))
}

/** LSH band buckets from a MinHash signature: band j is a mix of its
  * `rowsPerBand` signature slots (one array op per row — no
  * element_at explosion in the plan).
  */
case class BandBuckets(child: Expression, bands: Int, rowsPerBand: Int)
    extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def nullSafeEval(v: Any): Any =
    SketchOps.bandBuckets(v.asInstanceOf[ArrayData], bands, rowsPerBand)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.SketchOps.bandBuckets($c, $bands, $rowsPerBand)")

  override protected def withNewChildInternal(c: Expression): BandBuckets = copy(child = c)
}

object BandBuckets {
  def band_buckets(sig: Column, bands: Int, rowsPerBand: Int): Column =
    column(BandBuckets(expression(sig), bands, rowsPerBand))
}

/** 64-bit SimHash of a document in one pass: tokenize, hash each
  * token, accumulate ±1 per bit (bag-weighted via repetition), sign →
  * sketch. Replaces explode + 64 sum-aggregates — again map-side only.
  */
case class SimHash64(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType

  override def nullSafeEval(v: Any): Any =
    SketchOps.simHash64(v.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.SketchOps.simHash64($c)")

  override protected def withNewChildInternal(c: Expression): SimHash64 = copy(child = c)
}

object SimHash64 {
  def simhash64(text: Column): Column = column(SimHash64(expression(text)))
}

/** Rolling polynomial fingerprint `fold (acc*31 + code) mod 1e9+7`
  * over the character stream — single pass; the declarative
  * `aggregate(transform(split(...)))` form evaluates an interpreted
  * lambda per character (~10× slower). Codes are Unicode code points
  * (BMP chars = UTF-16 units), matching `ascii()` per char in both
  * Spark and DuckDB for the BMP.
  */
case class Fingerprint64(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType

  override def nullSafeEval(v: Any): Any =
    SketchOps.fingerprint64(v.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.SketchOps.fingerprint64($c)")

  override protected def withNewChildInternal(c: Expression): Fingerprint64 = copy(child = c)
}

object Fingerprint64 {
  def fingerprint64(text: Column): Column = column(Fingerprint64(expression(text)))
}

/** Unicode NFC normalization — the canonical-composition pass a corpus
  * needs BEFORE any content hashing: decomposed sequences (e.g.
  * `a` + U+0301) and their precomposed forms (U+00E1) are visually
  * identical but hash differently, so un-normalized text silently
  * defeats exact dedup, fingerprinting, and shingle overlap. Wraps
  * `java.text.Normalizer` (ICU-equivalent for NFC) as a codegen'd
  * expression; the fast path skips allocation when the input is
  * already NFC (the overwhelmingly common case — `Normalizer.isNormalized`
  * is a cheap scan).
  */
case class NfcNormalize(child: Expression) extends UnaryExpression {
  override def dataType: DataType = child.dataType // string in, string out

  override def nullSafeEval(v: Any): Any =
    SketchOps.nfc(v.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.SketchOps.nfc($c)")

  override protected def withNewChildInternal(c: Expression): NfcNormalize = copy(child = c)
}

object NfcNormalize {
  def nfc_normalize(text: Column): Column = column(NfcNormalize(expression(text)))
}
