package graft.plans

import graft.functions._
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal}

/** SparkSessionExtensions entry point: exposes the engine's custom
  * Catalyst expressions to SQL. Installed at session build time
  * (`.withExtensions(new GraftExtensions)` in [[graft.GraftSession]]).
  *
  * SQL surface:
  *   graft_shard_code(s)        — murmur3_128(s).asInt & MaxInt (op #12)
  *   graft_hash64(s)            — stable 64-bit murmur
  *   graft_simhash(text)        — 64-bit SimHash sketch
  *   graft_qdot(a, b)           — integer dot product of array<bigint>
  *   graft_shingle_hashes(t, n) — distinct word n-gram shingle hashes
  *   graft_minhash_sig(hs, k)   — MinHash signature array
  *   graft_band_buckets(sig, b, r) — LSH band buckets of a signature
  *   graft_fingerprint(text)    — rolling polynomial fingerprint
  *   graft_sorted_intersect(a, b) — |A∩B| of sorted arrays (merge)
  *   graft_pq_adc(codes, tab, k) — PQ asymmetric-distance lookup-sum
  *   graft_bloom_contains(h, bf, k) — Bloom membership probe
  *   graft_cms_estimate(h, sk, d)   — count-min frequency estimate
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit =
    GraftExtensions.builders.foreach { case (name, builder) =>
      e.injectFunction((
        org.apache.spark.sql.catalyst.FunctionIdentifier(name),
        new org.apache.spark.sql.catalyst.expressions.ExpressionInfo(
          "graft", name),
        (exprs: Seq[Expression]) => builder(exprs)))
    }
}

object GraftExtensions {

  private def intArg(e: Expression, what: String): Int = e match {
    case Literal(v: Int, _) => v
    case other => throw new IllegalArgumentException(
      s"$what must be an integer literal, got $other")
  }

  val builders: Seq[(String, Seq[Expression] => Expression)] = Seq(
    "graft_shard_code" -> (es => Murmur3ShardCode(es.head)),
    "graft_hash64" -> (es => Murmur3Hash64(es.head)),
    "graft_simhash" -> (es => SimHash64(es.head)),
    "graft_qdot" -> (es => QDot(es.head, es(1))),
    "graft_shingle_hashes" -> (es =>
      ShingleHash64(es.head, intArg(es(1), "shingle width n"))),
    "graft_minhash_sig" -> (es =>
      MinHashSig(es.head, intArg(es(1), "signature size k"))),
    "graft_band_buckets" -> (es =>
      BandBuckets(es.head, intArg(es(1), "bands"), intArg(es(2), "rowsPerBand"))),
    "graft_fingerprint" -> (es => Fingerprint64(es.head)),
    "graft_nfc" -> (es => NfcNormalize(es.head)),
    "graft_sorted_intersect" -> (es => SortedIntersectCount(es.head, es(1))),
    "graft_zorder" -> (es => ZOrder2(es.head, es(1))),
    "graft_pq_adc" -> (es =>
      PqAdcScore(es.head, es(1), intArg(es(2), "codebook size k"))),
    "graft_bloom_contains" -> (es =>
      BloomMightContain(es.head, es(1), intArg(es(2), "numHashes"))),
    "graft_cms_estimate" -> (es =>
      CountMinEstimate(es.head, es(1), intArg(es(2), "depth"))))
}
