package graft

import graft.functions.{BpeChars, BpeEncode, BpeMergeApply, BpeOps, BpePairs}
import graft.operators.Bpe
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

/** Pins the distributed BPE trainer against an INDEPENDENT naive
  * reference implementation (plain Scala lists, no shared kernels),
  * including the subtleties the counting convention exists for:
  * same-symbol runs (greedy floor(L/2), not zip L−1), tie-breaks,
  * and the exact-compression invariant.
  */
class BpeSpec extends SparkSpec {

  // --- independent reference: same greedy conventions, zero shared code ---
  private def refPairs(syms: List[String]): Map[(String, String), Long] = {
    val m = scala.collection.mutable.Map.empty[(String, String), Long].withDefaultValue(0L)
    var s = syms
    while (s.length >= 2) {
      val l = s.head
      if (s(1) == l) {
        val run = s.takeWhile(_ == l).length
        m((l, l)) += run / 2
        s = s.drop(run - 1) // run's last symbol still pairs with the next
      } else {
        m((l, s(1))) += 1
        s = s.tail
      }
    }
    m.toMap
  }

  private def refMerge(syms: List[String], l: String, r: String): List[String] = syms match {
    case a :: b :: rest if a == l && b == r => (l + r) :: refMerge(rest, l, r)
    case a :: rest => a :: refMerge(rest, l, r)
    case Nil => Nil
  }

  private def refTrain(words: Seq[(String, Long)], k: Int): (List[(String, String, Long)], Map[String, List[String]]) = {
    var syms: Map[String, (List[String], Long)] =
      words.map { case (w, f) => w -> (w.map(_.toString).toList, f) }.toMap
    var merges = List.empty[(String, String, Long)]
    for (_ <- 1 to k) {
      val counts = scala.collection.mutable.Map.empty[(String, String), Long].withDefaultValue(0L)
      for ((_, (s, f)) <- syms; ((l, r), n) <- refPairs(s)) counts((l, r)) += n * f
      if (counts.nonEmpty) {
        val ((l, r), c) = counts.minBy { case ((l, r), c) => (-c, l, r) }
        if (c > 0L) {
          merges = merges :+ ((l, r, c))
          syms = syms.map { case (w, (s, f)) => w -> (refMerge(s, l, r), f) }
        }
      }
    }
    (merges, syms.map { case (w, (s, _)) => w -> s })
  }

  private def u(s: String) = UTF8String.fromString(s)
  private def arr(ss: String*) =
    new org.apache.spark.sql.catalyst.util.GenericArrayData(ss.map(u).toArray[Any])
  private def strs(a: org.apache.spark.sql.catalyst.util.ArrayData): Seq[String] =
    (0 until a.numElements()).map(a.getUTF8String(_).toString)

  test("pair kernel: runs count floor(L/2), boundaries still pair") {
    def pairs(ss: String*): Seq[(String, String, Long)] = {
      val a = BpeOps.pairs(arr(ss: _*))
      (0 until a.numElements()).map { i =>
        val r = a.getStruct(i, 3)
        (r.getUTF8String(0).toString, r.getUTF8String(1).toString, r.getLong(2))
      }
    }
    assert(pairs("a", "b", "c") == Seq(("a", "b", 1L), ("b", "c", 1L)))
    // AAA: one merge; AAAA: two; run boundary (A,B) still emitted
    assert(pairs("a", "a", "a") == Seq(("a", "a", 1L)))
    assert(pairs("a", "a", "a", "a") == Seq(("a", "a", 2L)))
    assert(pairs("a", "a", "b") == Seq(("a", "a", 1L), ("a", "b", 1L)))
    assert(pairs("b", "a", "a") == Seq(("b", "a", 1L), ("a", "a", 1L)))
    assert(pairs("x") == Seq())
  }

  test("merge kernel: greedy left-to-right, counts match applications") {
    assert(strs(BpeOps.mergeApply(arr("a", "a", "a"), u("a"), u("a"))) == Seq("aa", "a"))
    assert(strs(BpeOps.mergeApply(arr("a", "b", "a", "b"), u("a"), u("b"))) == Seq("ab", "ab"))
    assert(strs(BpeOps.mergeApply(arr("a", "a", "b"), u("a"), u("b"))) == Seq("a", "ab"))
    // merged symbol is not re-matched in the same pass
    assert(strs(BpeOps.mergeApply(arr("a", "b", "b"), u("a"), u("b"))) == Seq("ab", "b"))
  }

  test("distributed trainer matches the naive reference (merges + tokenizations)") {
    import spark.implicits._
    // tie-break coverage ("ab" vs "ba" counts), runs ("aaa", "aaaa"),
    // and a frequency-weighted word that dominates ranking
    val words = Seq(
      ("abab", 3L), ("baba", 2L), ("aaa", 4L), ("aaaa", 1L),
      ("cddc", 5L), ("dccd", 5L), ("abcd", 2L), ("a", 7L))
    val (refMerges, refSyms) = refTrain(words, 6)
    val df = words.toDF("word", "freq")
    val (gotMerges, finalWords) = Bpe.train(df, 6)
    assert(gotMerges.map(m => (m.left, m.right, m.count)) == refMerges)
    val gotSyms = finalWords.select($"word", $"syms").as[(String, Seq[String])]
      .collect().toMap
    assert(refSyms.forall { case (w, s) => gotSyms(w.toString).toList == s })
  }

  test("encode expression reproduces the training evolution and the exact compression invariant") {
    import spark.implicits._
    val words = Seq(("aabbaabb", 2L), ("abab", 3L), ("bbbb", 1L), ("ba", 4L))
    val df = words.toDF("word", "freq")
    val (merges, finalWords) = Bpe.train(df, 4)
    val enc = BpeEncode.bpe_encode($"word", merges.map(m => (m.left, m.right)))
    val bad = finalWords.filter(not(enc === $"syms")).count()
    assert(bad == 0L)
    val Seq((init, fin)) = finalWords
      .agg(sum($"freq" * length($"word")), sum($"freq" * size($"syms")))
      .as[(Long, Long)].collect().toSeq
    assert(fin == init - merges.map(_.count).sum,
      s"each merge must shrink the weighted total by exactly its count: $merges")
    // monotone non-increasing best counts
    assert(merges.sliding(2).forall(w => w.length < 2 || w(1).count <= w(0).count))
  }

  test("pair explode plan keeps a partial aggregate; wordFrequencies is one shuffle") {
    val docs = Tables(spark, sf).documents
    // over three splits the collapse keeps its one shuffle
    val p = Bpe.wordFrequencies(Jobs.splitCopy(docs), "text").queryExecution.executedPlan.toString
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 1,
      s"word-frequency collapse must be one shuffle:\n$p")
    assert(p.contains("partial_count") || p.contains("HashAggregate"),
      s"must partial-aggregate map-side:\n$p")
    // over the test table's one small split it plans none
    assert(Jobs.shuffles(Bpe.wordFrequencies(docs, "text")).isEmpty)
  }

  test("chars kernel handles surrogate pairs as single symbols") {
    val got = strs(BpeOps.chars(u("a😀b")))
    assert(got == Seq("a", "😀", "b"))
  }
}
