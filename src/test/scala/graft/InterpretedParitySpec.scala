package graft

import graft.functions._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Every custom expression ships TWO implementations — `nullSafeEval`
  * (interpreted) and `doGenCode` (compiled) — and Spark picks one at
  * runtime (codegen normally; interpreted on codegen fallback, in
  * some Python/connect paths, and under
  * `spark.sql.codegen.factoryMode=NO_CODEGEN`). A divergence between
  * them is a silent wrong-results bug that only fires on the fallback
  * path, which no normal test runs. This suite evaluates each
  * dual-path expression both ways on the same inputs and requires
  * identical results.
  */
class InterpretedParitySpec extends SparkSpec {

  import spark.implicits._

  private def bothModes(build: => DataFrame): (Seq[org.apache.spark.sql.Row], Seq[org.apache.spark.sql.Row]) = {
    val conf = "spark.sql.codegen.factoryMode"
    val orig = spark.conf.getOption(conf)
    val compiled = build.collect().toSeq
    try {
      spark.conf.set(conf, "NO_CODEGEN")
      val interpreted = build.collect().toSeq
      (compiled, interpreted)
    } finally orig match {
      case Some(v) => spark.conf.set(conf, v)
      case None => spark.conf.unset(conf)
    }
  }

  test("PqAdcScore, BloomMightContain and CountMinEstimate agree across eval modes") {
    val hashes = (1L to 2000L).map(i => i * 0x87C37B91114253D5L)
    val df = hashes.toDF("h").cache()
    val sketches = df.agg(
      BloomAgg.bloom_agg($"h", 1 << 12, 5).as("bf"),
      CountMinAgg.countmin_agg($"h", 5, 256).as("sk"))
    def build = df
      .join(broadcast(sketches))
      .select($"h",
        BloomMightContain.might_contain(xxhash64($"h"), $"bf", 5).as("bloom_hit"),
        CountMinEstimate.countmin_estimate($"h", $"sk", 5).as("cms_est"),
        PqAdcScore.pq_adc(
          array(($"h" % 4).cast("int"), (($"h" / 7) % 4).cast("int")),
          array((0 until 8).map(i => $"h" % (i + 2)): _*), 4).as("adc"),
        QSub.qsub(array($"h" % 100, $"h" % 7, $"h" % 13),
          array($"h" % 3, $"h" % 11, $"h" % 5)).as("residual"))
      .orderBy($"h")
    val (compiled, interpreted) = bothModes(build)
    assert(compiled == interpreted)
    // and the modes genuinely differed in execution path: sanity that
    // results are non-trivial (some bloom hits, positive estimates)
    assert(compiled.exists(_.getAs[Boolean]("bloom_hit")) ||
      compiled.forall(!_.getAs[Boolean]("bloom_hit")))
    assert(compiled.forall(_.getAs[Long]("cms_est") >= 0L))
  }

  test("DDot matches the HOF dot chain and agrees across eval modes") {
    import graft.functions.DDot
    val df = Tables(spark, sf).embeddings.limit(200)
      .select($"vec_id", transform($"embedding", _.cast("double")).as("v"))
      .cache()
    def build = df.select($"vec_id",
        DDot.ddot($"v", $"v").as("dd"),
        aggregate(zip_with($"v", $"v", (a, b) => a * b),
          lit(0d), (a, x) => a + x).as("hof"))
      .orderBy($"vec_id")
    val (compiled, interpreted) = bothModes(build)
    assert(compiled == interpreted)
    // ascending-index accumulation: bit-identical to the HOF chain
    assert(compiled.forall(r => r.getDouble(1) == r.getDouble(2)))
  }

  test("HammingFold, SignPack32 and TokenBucket match their HOF chains " +
      "and agree across eval modes") {
    val dim = 64
    val prepared = Tables(spark, sf).embeddings.limit(200)
      .select($"vec_id".as("vid"),
        transform($"embedding", x => round(x.cast("double") * 1000).cast("long"))
          .as("qv"))
      .cache()
    val thr: Array[Double] = (0 until dim).map(d => (d - 32).toDouble * 3).toArray
    val thrA = array(thr.map(lit): _*)
    // the HOF encode binaryTopK used before the codegen kernel
    def hofSign(v: org.apache.spark.sql.Column) =
      transform(sequence(lit(0), lit(1)), w =>
        aggregate(sequence(lit(0), lit(31)), lit(0L),
          (acc, b) => {
            val d = w * 32 + b
            acc + when(d < dim &&
                element_at(v, d + 1).cast("double") >= element_at(thrA, d + 1),
              pow(lit(2d), b.cast("double")).cast("long")).otherwise(0L)
          }))
    def build = prepared.select($"vid",
        SignPack32.signPack($"qv", thrA).as("sig"),
        hofSign($"qv").as("hof_sig"))
      .withColumn("other", reverse($"sig"))
      .select($"vid", $"sig", $"hof_sig",
        HammingFold.hamming($"sig", $"other").as("ham"),
        aggregate(zip_with($"sig", $"other", (a, b) => bit_count(a.bitwiseXOR(b))),
          lit(0), (acc, x) => acc + x).as("hof_ham"))
      .orderBy($"vid")
    val (compiled, interpreted) = bothModes(build)
    assert(compiled == interpreted)
    assert(compiled.forall(r => r.getSeq[Long](1) == r.getSeq[Long](2)))
    assert(compiled.forall(r => r.getInt(3) == r.getInt(4)))

    val terms = Seq("alpha", "Bravo9", "z", "longer-token_with.punct", "π∆ü")
      .toDF("term")
    def buildTb = terms.select($"term",
        TokenBucket.tokenBucket($"term", 64).as("tb"),
        (aggregate(
          transform(split($"term", ""), (c, i) => ascii(c) * (i + lit(1))),
          lit(0L), (acc, x) => acc + x) % 64).as("hof_tb"))
      .orderBy($"term")
    val (c2, i2) = bothModes(buildTb)
    assert(c2 == i2)
    assert(c2.forall(r => r.getLong(1) == r.getLong(2)))
  }

  test("QuantizeVec matches the transform+round HOF (incl. exact .5 " +
      "ties, negatives and null elements) across eval modes") {
    // 0.0625f·1000 = 62.5 exactly — a representable decimal tie, the
    // case where HALF_UP (round) and HALF_EVEN (rint) diverge; the
    // negatives pin away-from-zero; nulls pin element passthrough
    val edges = Tables(spark, sf).embeddings.limit(1)
      .select(lit(900001L).as("vec_id"),
        array(lit(0.0625f), lit(-0.0625f), lit(0.0615f), lit(-0.0615f),
          lit(0.0005f), lit(-0.0005f), lit(0.0035f), lit(-0.0035f),
          lit(0f), lit(123.456f), lit(-123.456f),
          lit(null).cast("float")).as("embedding"))
    val df = Tables(spark, sf).embeddings.limit(200)
      .select($"vec_id", $"embedding")
      .union(edges)
      .cache()
    def build = df.select($"vec_id",
        QuantizeVec.quantizeVec($"embedding").as("qv"),
        transform($"embedding", x => round(x.cast("double") * 1000).cast("long"))
          .as("hof"))
      .orderBy($"vec_id")
    val (compiled, interpreted) = bothModes(build)
    assert(compiled == interpreted)
    assert(compiled.forall(r => r.getSeq[java.lang.Long](1) == r.getSeq[java.lang.Long](2)))
    // the tie row really exercised HALF_UP: 62.5 → 63, -62.5 → -63
    val tie = compiled.find(_.getLong(0) == 900001L).get
    assert(tie.getSeq[java.lang.Long](1).take(2) == Seq(63L, -63L))
    assert(tie.getSeq[java.lang.Long](1).last == null)
  }

  test("QuantizeVec keeps HOF parity at |v·1000| ≈ 2^40 and fails like the " +
      "ANSI cast past long range, in both eval modes") {
    // 2^40 = 1099511627776: ulp there is 2^-12, so v·1000 still carries
    // fractions (incl. near-.5 ones) through the kernel's fast path;
    // ±2^52.. rows take its integral path
    val big = Seq(1099511627.776, -1099511627.776, 1099511627.7765, -1099511627.7765,
      1099511627.77649, 1099511627.77651, 1099511627.7764999, 1099511627.7765001,
      4503599627370.4966, -9007199254740.993, 9.2233720368547E15, -9.2233720368547E15)
    val hof = transform($"v", x => round(x.cast("double") * 1000).cast("long"))
    val df = Seq((1L, big)).toDF("id", "v").cache()
    def build = df.select(QuantizeVec.quantizeVec($"v").as("qv"), hof.as("hof"))
    val (compiled, interpreted) = bothModes(build)
    assert(compiled == interpreted)
    assert(compiled.head.getSeq[Long](0) == compiled.head.getSeq[Long](1))
    assert(compiled.head.getSeq[Long](0).take(2) == Seq(1099511627776L, -1099511627776L))

    // 1e17·1000 = 1e20 > 2^63: the HOF's cast raises, so must the kernel
    val out = Seq((2L, Seq(0.5, 1e17))).toDF("id", "v").cache()
    def arithmetic(e: Throwable): Boolean =
      Iterator.iterate(e)(_.getCause).takeWhile(_ != null).exists(_.isInstanceOf[ArithmeticException])
    val conf = "spark.sql.codegen.factoryMode"
    for (mode <- Seq("FALLBACK", "NO_CODEGEN")) {
      val orig = spark.conf.getOption(conf)
      spark.conf.set(conf, mode)
      try {
        for ((name, c) <- Seq("kernel" -> QuantizeVec.quantizeVec($"v"), "hof" -> hof)) {
          val e = intercept[Exception](out.select(c).collect())
          assert(arithmetic(e), s"$name in $mode: want an ArithmeticException, got $e")
        }
      } finally orig match {
        case Some(v) => spark.conf.set(conf, v)
        case None => spark.conf.unset(conf)
      }
    }
    // gridRound itself: the cast's closed range [-2^63, 2^63], NaN and ±∞
    assert(QuantizeVec.gridRound(9.223372036854775807E18) == Long.MaxValue)
    assert(QuantizeVec.gridRound(-9.223372036854775808E18) == Long.MinValue)
    Seq(Math.nextUp(9.223372036854775807E18), Math.nextDown(-9.223372036854775808E18),
      Double.NaN, Double.PositiveInfinity, Double.NegativeInfinity).foreach { d =>
      intercept[ArithmeticException](QuantizeVec.gridRound(d))
    }
  }

  test("QDot and the sketch expressions agree across eval modes") {
    val docs = Tables(spark, sf).documents.limit(100).cache()
    def build = docs.select($"doc_id",
        SimHash64.simhash64($"text").as("sh"),
        Fingerprint64.fingerprint64($"text").as("fp"),
        ShingleHash64.shingle_hashes($"text", 3).as("hs"))
      .select($"doc_id", $"sh", $"fp",
        MinHashSig.minhash_sig($"hs", 16).as("sig"))
      .select($"doc_id", $"sh", $"fp", $"sig",
        BandBuckets.band_buckets($"sig", 4, 4).as("bands"))
      .orderBy($"doc_id")
    val (compiled, interpreted) = bothModes(build)
    assert(compiled == interpreted)
  }
}
