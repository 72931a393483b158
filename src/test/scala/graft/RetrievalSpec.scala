package graft

import graft.operators.Retrieval
import org.apache.spark.sql.functions._

/** Retrieval stack (q100–q102): BM25 fixed-point scoring semantics,
  * hashing-trick cosine ranking, and RRF fusion arithmetic.
  */
class RetrievalSpec extends SparkSpec {

  private def docsDF(rows: (Long, String)*) = {
    import spark.implicits._
    rows.toDF("doc_id", "text")
  }

  test("phrase search: overlap-correct counts, duplicate-token phrases, boundary-exact") {
    val docs = docsDF(
      1L -> "a a a b",     // "a a" occurs at starts 0 AND 1 (overlap)
      2L -> "x a a y a a", // two disjoint occurrences
      3L -> "a b a",       // "a b a" itself; no "a a"
      4L -> "aa ab")       // substring trap: no TOKEN phrase matches
    val got = Retrieval.phraseSearch(docs, "doc_id", "text",
        Seq(1L -> "a a", 2L -> "a b a"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == Set((1L, 1L, 2L), (2L, 1L, 2L), (3L, 2L, 1L)),
      s"got $got")
  }

  test("hashed vectors drop zero-length tokens from ragged whitespace") {
    import spark.implicits._
    // "alpha  beta" (double space) splits into ["alpha", "", "beta"]:
    // the empty token must not contribute a bucket-0 count, so the
    // ragged doc vectorizes identically to its clean twin (and to what
    // a SQL oracle's empty-list sum would produce)
    val ragged = Retrieval.hashedVectors(
      docsDF(1L -> " alpha  beta "), "doc_id", "text", dim = 64)
    val clean = Retrieval.hashedVectors(
      docsDF(1L -> "alpha beta"), "doc_id", "text", dim = 64)
    assert(ragged.collect().toSet == clean.collect().toSet)
  }

  test("bm25: rare-term match outranks common-term match (idf)") {
    // "zebra" appears in 1 of 4 docs, "cat" in 3 of 4 — equal tf and
    // equal length, so ranking is pure idf
    val docs = docsDF(
      1L -> "cat dog bird fish",
      2L -> "cat mouse bird fish",
      3L -> "zebra dog bird fish",
      4L -> "cat dog mouse fish")
    val out = Retrieval.bm25TopK(docs, "doc_id", "text",
        Seq(1L -> "zebra", 2L -> "cat"), k = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val zebraTop = out.filter(_._1 == 1L)
    assert(zebraTop.map(_._3).toSeq == Seq(3L)) // only doc 3 matches
    val catScores = out.filter(_._1 == 2L).map(t => t._3 -> t._4).toMap
    val zebraScore = zebraTop.head._4
    assert(catScores.values.forall(_ < zebraScore),
      s"rare term must outscore common term: $zebraScore vs $catScores")
  }

  test("bm25: shorter doc wins at equal tf (length normalization)") {
    val docs = docsDF(
      1L -> "cat dog",
      2L -> "cat dog bird fish mouse zebra lion tiger")
    val out = Retrieval.bm25TopK(docs, "doc_id", "text",
        Seq(1L -> "cat"), k = 2)
      .orderBy("rank")
      .collect().map(r => (r.getLong(1), r.getLong(2)))
    assert(out.toSeq == Seq(1L -> 1L, 2L -> 2L),
      s"short doc must rank first: ${out.toSeq}")
  }

  test("bm25: fixed-point score matches the closed form (hand case)") {
    // one doc, one term: N=1, df=1, tf=1, len=2, avgdl=2
    //   idf_r = (2-2+1)/(2+1) = 1/3
    //   tf-part = 22·1·2 / (10·1·2 + 3·2 + 9·2) = 44/44 = 1
    //   score_fp = floor(1e6 · 44 / (3·44)) = floor(1e6/3) = 333333
    val docs = docsDF(1L -> "cat dog")
    val out = Retrieval.bm25TopK(docs, "doc_id", "text",
        Seq(1L -> "cat"), k = 1).collect()
    assert(out.length == 1 && out.head.getLong(3) == 333333L, out.mkString)
  }

  test("bm25 ranking agrees with a row_number window oracle on real data") {
    import spark.implicits._
    val docs = Tables(spark, sf).documents
    val qs = Seq(1L -> "spark window join", 2L -> "dup query scan")
    val got = Retrieval.bm25TopK(docs, "doc_id", "text", qs, k = 10)
    // same scoring frame, ranked by a window instead of TopKAgg
    // k far above the sf0.001 corpus size → the full scored frame
    val scored = Retrieval.bm25TopK(docs, "doc_id", "text", qs, k = 10000)
      .select($"query_id", $"doc_id", $"score_fp")
    val win = org.apache.spark.sql.expressions.Window
      .partitionBy($"query_id").orderBy($"score_fp".desc, $"doc_id")
    val want = scored
      .withColumn("rank", row_number().over(win).cast("long"))
      .filter($"rank" <= 10)
    assert(got.select("query_id", "rank", "doc_id", "score_fp").collect().toSet ==
      want.select("query_id", "rank", "doc_id", "score_fp").collect().toSet)
  }

  test("tokenBucket is the position-weighted code-point sum mod dim") {
    import spark.implicits._
    val got = Seq("spark", "a", "zz").toDF("t")
      .select(Retrieval.tokenBucket(col("t"), 64).as("b"))
      .collect().map(_.getLong(0)).toSeq
    def h(s: String) = s.zipWithIndex.map { case (c, i) => c.toInt * (i + 1) }.sum % 64
    assert(got == Seq("spark", "a", "zz").map(s => h(s).toLong), got)
  }

  test("hashed-vector cosine: an exact copy of the query ranks first with cos²=|q|²") {
    val docs = docsDF(
      1L -> "alpha beta gamma",
      2L -> "alpha beta gamma delta epsilon",
      3L -> "unrelated words here")
    val out = Retrieval.hashedVectorTopK(docs, "doc_id", "text",
        Seq(1L -> "alpha beta gamma"), dim = 64, k = 3)
      .orderBy("rank").collect()
    assert(out.head.getLong(2) == 1L, s"verbatim copy must rank 1: ${out.toSeq}")
    // cos²·|q|² for the copy = |q|² exactly (dot=|q|²=|d|²=3 here)
    assert(out.head.getDouble(3) == 3.0, out.head.toString)
  }

  test("mmr re-rank demotes a near-duplicate of the top pick") {
    import spark.implicits._
    // docs 1 and 2 are verbatim copies (cos=1); doc 3 is unrelated.
    // Relevance order is 1,2,3 — diversification must pick 1,3,2.
    val docs = docsDF(
      1L -> "alpha beta gamma delta",
      2L -> "alpha beta gamma delta",
      3L -> "unrelated words entirely different")
    val ranked = Seq((1L, 1L, 1L), (1L, 2L, 2L), (1L, 3L, 3L))
      .toDF("query_id", "rank", "doc_id")
    val out = Retrieval.mmrRerank(ranked, docs, "doc_id", "text", dim = 64, k = 3)
      .orderBy("sel_rank")
      .collect().map(r => (r.getLong(2), r.getLong(1)))
    assert(out.toSeq == Seq(1L -> 1L, 2L -> 3L, 3L -> 2L),
      s"near-dup must drop below the unrelated doc: ${out.toSeq}")
  }

  test("mmr stops when candidates run out and stays partition-invariant") {
    import spark.implicits._
    val docs = Tables(spark, sf).documents
    val qs = Seq(1L -> "spark window join")
    val bm = Retrieval.bm25TopK(docs, "doc_id", "text", qs, k = 4)
    def picks(ranked: org.apache.spark.sql.DataFrame, d: org.apache.spark.sql.DataFrame) =
      Retrieval.mmrRerank(ranked, d, "doc_id", "text", dim = 64, k = 6)
        .collect().map(r => (r.getAs[Long]("query_id"),
          r.getAs[Long]("sel_rank"), r.getAs[Long]("doc_id"))).sorted.toSeq
    val a = picks(bm, docs)
    assert(a.map(_._2).max == 4, s"only 4 candidates → 4 picks despite k=6: $a")
    val b = picks(bm.repartition(7), docs.repartition(5))
    assert(a == b)
  }

  test("bm25 stop-term guard skips high-df terms without touching the rest") {
    import spark.implicits._
    val docs = Tables(spark, sf).documents
    val qs = Seq(1L -> "dup the join") // rare + stopword-ish + common
    // guard off == default behavior
    val full = Retrieval.bm25TopK(docs, "doc_id", "text", qs, k = 10)
    val off = Retrieval.bm25TopK(docs, "doc_id", "text", qs, k = 10,
      maxDfFraction = 1.0)
    assert(full.collect().toSet == off.collect().toSet)
    // at 10% max df only "dup" (df≈5% of docs) survives: the guarded
    // result must equal querying for the rare term alone
    val guarded = Retrieval.bm25TopK(docs, "doc_id", "text", qs, k = 10,
      maxDfFraction = 0.10)
    val rareOnly = Retrieval.bm25TopK(docs, "doc_id", "text",
      Seq(1L -> "dup"), k = 10)
    assert(guarded.collect().toSet == rareOnly.collect().toSet,
      "guard must drop exactly the high-df terms")
  }

  test("WAND pruning is exact: pruned output equals unpruned on real data") {
    val docs = Tables(spark, sf).documents
    // mixes rare terms with stopword-like ones so pruning has teeth
    val qs = Seq(1L -> "spark window join", 2L -> "dup the scan",
      3L -> "the a of", 4L -> "zzz_absent_term")
    val pruned = scala.collection.mutable.Map.empty[Long, Seq[String]]
    val wand = Retrieval.bm25TopKWand(docs, "doc_id", "text", qs, k = 5,
      onPrune = (q, ts) => pruned(q) = ts)
    val full = Retrieval.bm25TopK(docs, "doc_id", "text", qs, k = 5)
    assert(wand.collect().toSet == full.collect().toSet,
      s"pruning must be lossless (dropped: $pruned)")
  }

  test("WAND drops a term the bound proves irrelevant, and only then") {
    import spark.implicits._
    // "stop" is in every doc (df=N -> tiny idf bound); "rare" pins the
    // top-k. With k=1 and 3 docs matching "rare", theta is large and
    // the stop term's bound falls under it.
    val docs = docsDF(
      1L -> "rare stop alpha beta",
      2L -> "rare stop gamma delta",
      3L -> "rare stop epsilon zeta",
      4L -> "stop eta theta iota kappa",
      5L -> "stop lambda mu nu xi")
    val pruned = scala.collection.mutable.Map.empty[Long, Seq[String]]
    val wand = Retrieval.bm25TopKWand(docs, "doc_id", "text",
      Seq(1L -> "rare stop"), k = 1, onPrune = (q, ts) => pruned(q) = ts)
    val full = Retrieval.bm25TopK(docs, "doc_id", "text",
      Seq(1L -> "rare stop"), k = 1)
    assert(wand.collect().toSet == full.collect().toSet)
    assert(pruned(1L) == Seq("stop"),
      s"the df=5 term's bound cannot reach the rare-term theta: $pruned")
  }

  test("indexed BM25 equals the direct path and probes without re-tokenizing") {
    import spark.implicits._
    val docs = Tables(spark, sf).documents
    val qs = Seq(1L -> "spark window join", 2L -> "dup query scan")
    val db = "bm25idx_spec"
    val loc = java.nio.file.Files.createTempDirectory("graft-bm25idx-spec").toString
    spark.sql(s"DROP DATABASE IF EXISTS $db CASCADE")
    spark.sql(s"CREATE DATABASE $db LOCATION '$loc'")
    try {
      Retrieval.buildBm25Index(docs, "doc_id", "text", db)
      val indexed = Retrieval.bm25TopKIndexed(spark, db, qs, k = 10)
      val direct = Retrieval.bm25TopK(docs, "doc_id", "text", qs, k = 10)
      assert(indexed.collect().toSet == direct.collect().toSet)
      val p = indexed.queryExecution.executedPlan.toString
      // the probe must read the persisted bucketed index, not the
      // corpus (the 2-row query literal still tokenizes its qtext)
      assert(!p.contains("split(text"), s"probe must not re-tokenize the corpus:\n$p")
      assert(p.contains("Bucketed: true"), s"postings scan must be bucketed:\n$p")
      assert(!p.toLowerCase.contains("documents.parquet"),
        s"probe must not scan the corpus:\n$p")
    } finally {
      spark.sql(s"DROP DATABASE IF EXISTS $db CASCADE")
    }
  }

  test("size-adaptive buckets: formula properties and probe identity across counts") {
    import spark.implicits._
    // policy: power of two, monotone in corpus size, clamped [8, 4096],
    // per-bucket load flat (n/buckets bounded by ~2x docsPerBucket)
    val f = (n: Long) => Retrieval.sizeAdaptiveBuckets(n)
    assert(f(0) == 8 && f(1) == 8 && f(65536) == 8)
    assert(f(600000) == 16 && f(5000000) == 128)
    assert(f(Long.MaxValue / 4) == 4096, "cap")
    val sizes = Seq(1L, 100L, 65536L, 600000L, 5000000L, 80000000L)
    assert(sizes.map(f) == sizes.map(f).sorted, "monotone")
    sizes.foreach { n =>
      val b = f(n)
      assert((b & (b - 1)) == 0, s"pow2: $b")
      if (b < 4096) assert(n.toDouble / b <= 2 * 65536, s"flat load at n=$n")
    }
    // the bucket count is layout metadata, not semantics: the same
    // corpus indexed at 4 and 16 buckets answers probes identically
    val docs = Tables(spark, sf).documents
    val qs = Seq(1L -> "spark window join", 2L -> "dup query scan")
    def mkDb(name: String): String = {
      val loc = java.nio.file.Files.createTempDirectory(s"graft-$name").toString
      spark.sql(s"DROP DATABASE IF EXISTS $name CASCADE")
      spark.sql(s"CREATE DATABASE $name LOCATION '$loc'")
      name
    }
    val (b4, b16) = (mkDb("bm25idx_b4"), mkDb("bm25idx_b16"))
    try {
      Retrieval.buildBm25Index(docs, "doc_id", "text", b4, buckets = 4)
      Retrieval.buildBm25Index(docs, "doc_id", "text", b16, buckets = 16)
      // recorded metadata round-trips, and append follows it (a delta
      // appended with no buckets arg lands in the build's layout)
      assert(spark.table(s"$b4.stats").select("buckets").collect()
        .map(_.getInt(0)).toSeq == Seq(4))
      assert(Retrieval.bm25TopKIndexed(spark, b4, qs, k = 10).collect().toSet ==
        Retrieval.bm25TopKIndexed(spark, b16, qs, k = 10).collect().toSet)
    } finally {
      Seq(b4, b16).foreach(db => spark.sql(s"DROP DATABASE IF EXISTS $db CASCADE"))
    }
  }

  test("mmr lambda endpoints: 1 keeps relevance order, 0 maximizes diversity") {
    import spark.implicits._
    val docs = docsDF(
      1L -> "alpha beta gamma delta",
      2L -> "alpha beta gamma delta",
      3L -> "unrelated words entirely different")
    val ranked = Seq((1L, 1L, 1L), (1L, 2L, 2L), (1L, 3L, 3L))
      .toDF("query_id", "rank", "doc_id")
    def picks(num: Long, den: Long) =
      Retrieval.mmrRerank(ranked, docs, "doc_id", "text", dim = 64, k = 3,
          lambdaNum = num, lambdaDen = den)
        .orderBy("sel_rank").collect().map(_.getLong(1)).toSeq
    assert(picks(1, 1) == Seq(1L, 2L, 3L), "lambda=1 ignores similarity")
    assert(picks(0, 1) == Seq(1L, 3L, 2L), "lambda=0 ignores relevance")
    assert(picks(1, 2) == Seq(1L, 3L, 2L), "balanced default demotes the dup")
  }

  test("facility-location re-rank covers before it repeats") {
    import spark.implicits._
    // docs 1 and 2 are copies; doc 3 unrelated. Step 1 takes doc 1
    // (covers both copies, highest weight); step 2 must take doc 3
    // (fresh coverage) over doc 2 (zero marginal coverage).
    val docs = docsDF(
      1L -> "alpha beta gamma delta",
      2L -> "alpha beta gamma delta",
      3L -> "unrelated words entirely different")
    val ranked = Seq((1L, 1L, 1L), (1L, 2L, 2L), (1L, 3L, 3L))
      .toDF("query_id", "rank", "doc_id")
    val out = Retrieval.facilityRerank(ranked, docs, "doc_id", "text",
        dim = 64, k = 3)
      .orderBy("sel_rank")
      .collect().map(r => (r.getLong(2), r.getLong(1)))
    assert(out.toSeq == Seq(1L -> 1L, 2L -> 3L, 3L -> 2L),
      s"coverage gain must pick the unrelated doc second: ${out.toSeq}")
  }

  test("index append: incremental build equals a from-scratch build exactly") {
    import spark.implicits._
    val docs = Tables(spark, sf).documents
    val (half, rest) = (docs.filter($"doc_id" % 2 === 0),
      docs.filter($"doc_id" % 2 =!= 0))
    val qs = Seq(1L -> "spark window join", 2L -> "dup the scan")
    def mkDb(name: String): String = {
      val loc = java.nio.file.Files.createTempDirectory(s"graft-$name").toString
      spark.sql(s"DROP DATABASE IF EXISTS $name CASCADE")
      spark.sql(s"CREATE DATABASE $name LOCATION '$loc'")
      name
    }
    val (inc, full) = (mkDb("bm25idx_inc"), mkDb("bm25idx_full"))
    try {
      Retrieval.buildBm25Index(half, "doc_id", "text", inc)
      Retrieval.appendToBm25Index(rest, "doc_id", "text", inc)
      Retrieval.buildBm25Index(docs, "doc_id", "text", full)
      // postings and stats land raw-identical; dfreq appends mergeable
      // SEGMENTS (delta-sized writes), so it compares under the
      // probe's semigroup fold
      def dfreqMerged(db: String) = spark.table(s"$db.dfreq")
        .groupBy("term").agg(
          org.apache.spark.sql.functions.sum("df").as("df"),
          org.apache.spark.sql.functions.max("max_tf").as("max_tf"),
          org.apache.spark.sql.functions.min("min_len").as("min_len"))
      for ((t, frames) <- Seq(
          "postings" -> ((db: String) => spark.table(s"$db.postings")),
          "dfreq" -> dfreqMerged _,
          "stats" -> ((db: String) => spark.table(s"$db.stats")))) {
        val a = frames(inc).collect().toSet
        val b = frames(full).collect().toSet
        assert(a == b, s"$t diverges after append: ${a.diff(b).take(3)} vs ${b.diff(a).take(3)}")
      }
      // ...and the probe is bit-identical
      assert(Retrieval.bm25TopKIndexed(spark, inc, qs, k = 10).collect().toSet ==
        Retrieval.bm25TopKIndexed(spark, full, qs, k = 10).collect().toSet)
      // compaction folds the segments to the from-scratch layout
      // exactly, and the probe is unchanged by it
      Retrieval.compactBm25Index(spark, inc)
      assert(spark.table(s"$inc.dfreq").collect().toSet ==
        spark.table(s"$full.dfreq").collect().toSet,
        "compacted dfreq must equal the from-scratch table raw")
      assert(Retrieval.bm25TopKIndexed(spark, inc, qs, k = 10).collect().toSet ==
        Retrieval.bm25TopKIndexed(spark, full, qs, k = 10).collect().toSet)
    } finally {
      spark.sql(s"DROP DATABASE IF EXISTS $inc CASCADE")
      spark.sql(s"DROP DATABASE IF EXISTS $full CASCADE")
    }
  }

  test("indexed probe scores in one pass: equals bm25TopK on an appended index with stopword queries, in five jobs") {
    import spark.implicits._
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.exchange.BroadcastExchangeLike
    import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
    val docs = Tables(spark, sf).documents
    // stopword-heavy: "the a of" style terms post in most documents,
    // mixed with rarer terms and one absent from the corpus
    val qs = Seq(1L -> "the a of", 2L -> "the spark of window",
      3L -> "a dup the scan join", 4L -> "zzz_absent_term the", 5L -> "of of a")
    val db = "bm25idx_onepass"
    val loc = java.nio.file.Files.createTempDirectory("graft-bm25idx-onepass").toString
    spark.sql(s"DROP DATABASE IF EXISTS $db CASCADE")
    spark.sql(s"CREATE DATABASE $db LOCATION '$loc'")
    try {
      Retrieval.buildBm25Index(docs.filter($"doc_id" % 3 === 0), "doc_id", "text", db)
      Retrieval.appendToBm25Index(docs.filter($"doc_id" % 3 === 1), "doc_id", "text", db)
      Retrieval.appendToBm25Index(docs.filter($"doc_id" % 3 === 2), "doc_id", "text", db)
      val segmented = spark.table(s"$db.dfreq").groupBy("term").count()
        .filter($"count" >= 3).count()
      assert(segmented > 0, "dfreq should hold several segments per term")
      // jobs of the call and of the collect
      val ((probe, got), jobs) = Jobs.counted(spark) {
        val p = Retrieval.bm25TopKIndexed(spark, db, qs, k = 10)
        (p, p.collect())
      }
      val want = Retrieval.bm25TopK(docs, "doc_id", "text", qs, k = 10).collect()
      assert(got.toSet == want.toSet && got.length == want.length,
        s"probe diverges from bm25TopK: ${got.toSet.diff(want.toSet).take(3)}")
      assert(got.map(_.getLong(0)).toSet == Set(1L, 2L, 3L, 4L, 5L))
      // the executed (final adaptive) plan: broadcast joins only, one
      // shuffle for the (query, doc) sums and one for the ranking
      object Plan extends AdaptiveSparkPlanHelper
      val plan = probe.queryExecution.executedPlan
      val semi = Plan.collect(plan) {
        case j: org.apache.spark.sql.execution.joins.BaseJoinExec
          if j.joinType == org.apache.spark.sql.catalyst.plans.LeftSemi => j
      }
      assert(semi.isEmpty && !plan.toString.contains("LeftSemi"),
        s"the probe must not semi-join:\n$plan")
      val shuffles = Jobs.shuffles(plan)
      val broadcasts = Plan.collect(plan) { case e: BroadcastExchangeLike => e }
      assert(shuffles.size == 2 && broadcasts.size == 2,
        s"want two shuffle and two broadcast exchanges, got ${shuffles.size} / ${broadcasts.size}:\n$plan")
      assert(Plan.collect(plan) { case j: BroadcastHashJoinExec => j }.size == 2, s"$plan")
      assert(jobs <= 5, s"the probe ran $jobs jobs, want <= 5")
    } finally {
      spark.sql(s"DROP DATABASE IF EXISTS $db CASCADE")
    }
  }

  test("rrf fusion: doc in both lists beats single-list docs; ties break by id") {
    import spark.implicits._
    val a = Seq((1L, 1L, 10L), (1L, 2L, 11L)).toDF("query_id", "rank", "doc_id")
    val b = Seq((1L, 1L, 10L), (1L, 2L, 12L)).toDF("query_id", "rank", "doc_id")
    val out = Retrieval.rrfFuse(a, b, k = 3)
      .orderBy("rank")
      .collect().map(r => (r.getLong(1), r.getLong(2), r.getLong(3)))
    val s = Retrieval.RrfScale
    assert(out.toSeq == Seq(
      (1L, 10L, 2 * (s / 61)),  // rank 1 in both
      (2L, 11L, s / 62),        // equal single contributions → id asc
      (3L, 12L, s / 62)))
  }
}
