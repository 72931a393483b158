package graft

import graft.operators.Dedup
import org.apache.spark.sql.functions._

class DedupSpec extends SparkSpec {

  private lazy val docs = Tables(spark, sf).documents.cache()

  test("minhash+LSH+verify finds exactly the exact-jaccard pairs") {
    val exact = Dedup.ngramJaccardPairs(docs, "doc_id", "text", 3, 0.8)
      .select("a", "b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Dedup.minhashDedupPairs(docs, "doc_id", "text", 3, 0.8)
      .select("a", "b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.nonEmpty, "test data should contain near-dup pairs")
    assert(lsh == exact, s"missed=${exact -- lsh} spurious=${lsh -- exact}")
  }

  test("frequency-capped minhash still finds all near-dup pairs here") {
    val exact = Dedup.ngramJaccardPairs(docs, "doc_id", "text", 3, 0.8)
      .select("a", "b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val capped = Dedup.minhashDedupPairs(docs, "doc_id", "text", 3, 0.8,
        maxDocFreq = Some(100))
      .select("a", "b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // near-dups share mostly rare shingles, so a generous cap keeps
    // full recall while pruning the hot buckets
    assert(capped == exact, s"missed=${exact -- capped} spurious=${capped -- exact}")
  }

  test("incremental batch-vs-corpus dedup finds exactly the cross-side pairs") {
    import graft.syntax._
    val batch = docs.filter($"doc_id" % 20 === 0)
    val corpus = docs.filter($"doc_id" % 20 =!= 0)
    // ground truth: full exact pairs restricted to those straddling the
    // split (either orientation — incremental reports a=batch, b=corpus)
    val full = Dedup.ngramJaccardPairs(docs, "doc_id", "text", 3, 0.8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val expected = full.collect {
      case (a, b) if a % 20 == 0 && b % 20 != 0 => (a, b)
      case (a, b) if b % 20 == 0 && a % 20 != 0 => (b, a)
    }
    val got = Dedup.incrementalDedupPairs(batch, corpus, "doc_id", "text", 3, 0.8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(expected.nonEmpty, "fixture should contain cross-side near-dups")
    assert(got == expected, s"missed=${expected -- got} spurious=${got -- expected}")
  }

  test("clusterKeepBest keeps the top-scored member per cluster") {
    import graft.syntax._
    val pairs = Dedup.ngramJaccardPairs(docs, "doc_id", "text", 3, 0.8)
    val scores = docs.select($"doc_id".as("doc"),
      size(split($"text", " ")).cast("long").as("score"))
    val reps = Dedup.clusterReps(pairs).collect()
      .map(r => (r.getLong(0), r.getLong(1))) // (doc, cluster)
    val scoreMap = scores.collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val expected = reps.groupBy(_._2).map { case (cl, members) =>
      val best = members.map(_._1).minBy(d => (-scoreMap(d), d))
      (cl, best, scoreMap(best), members.length.toLong)
    }.toSet
    val got = Dedup.clusterKeepBest(pairs, scores).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(expected.nonEmpty)
    assert(got == expected)
  }

  test("prefix-filtered exact path equals the naive all-shared-shingle join") {
    import graft.syntax._
    val sh = Dedup.shingles(docs, "doc_id", "text", 3).cache()
    val sizes = sh.groupBy($"doc").agg(count(lit(1)).as("sz"))
    // naive ground truth: every shared shingle generates a pair row
    val naive = sh.as("x").join(sh.as("y"),
        col("x.h") === col("y.h") && col("x.doc") < col("y.doc"))
      .groupBy(col("x.doc").as("a"), col("y.doc").as("b"))
      .agg(count(lit(1)).as("i"))
      .join(sizes.withColumnRenamed("doc", "a").withColumnRenamed("sz", "sa"), "a")
      .join(sizes.withColumnRenamed("doc", "b").withColumnRenamed("sz", "sb"), "b")
      .withColumn("jaccard", $"i".cast("double") / ($"sa" + $"sb" - $"i"))
      .filter($"jaccard" >= 0.8)
      .select("a", "b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val prefix = Dedup.ngramJaccardPairs(docs, "doc_id", "text", 3, 0.8)
      .select("a", "b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(naive.nonEmpty)
    assert(prefix == naive, s"missed=${naive -- prefix} spurious=${prefix -- naive}")
  }

  test("containment prefix path equals the naive all-shared-shingle join") {
    import graft.syntax._
    val sh = Dedup.shingles(docs, "doc_id", "text", 3).cache()
    val sizes = sh.groupBy($"doc").agg(count(lit(1)).as("sz"))
    val naive = sh.as("x").join(sh.as("y"),
        col("x.h") === col("y.h") && col("x.doc") =!= col("y.doc"))
      .groupBy(col("x.doc").as("a"), col("y.doc").as("b"))
      .agg(count(lit(1)).as("i"))
      .join(sizes.withColumnRenamed("doc", "a").withColumnRenamed("sz", "sa"), "a")
      .withColumn("c", $"i".cast("double") / $"sa")
      .filter($"c" >= 0.9)
      .select("a", "b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val pref = Dedup.ngramContainmentPairs(docs, "doc_id", "text", 3, 0.9)
      .select("a", "b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(naive.nonEmpty, "fixture should contain containment pairs")
    assert(pref == naive, s"missed=${naive -- pref} spurious=${pref -- naive}")
  }

  test("containment catches doc-in-doc pairs jaccard structurally misses") {
    import graft.syntax._
    import spark.implicits._
    // a (8 words) is verbatim inside b (48 words): jaccard = 6/44 ≈
    // 0.14 — far below any sane threshold — while C(a→b) = 1.0
    val small = "alpha beta gamma delta epsilon zeta eta theta"
    val filler = (1 to 40).map(i => s"w$i").mkString(" ")
    val df = Seq((1L, small), (2L, s"$small $filler")).toDF("doc_id", "text")
    val jac = Dedup.ngramJaccardPairs(df, "doc_id", "text", 3, 0.8).collect()
    assert(jac.isEmpty)
    val cont = Dedup.ngramContainmentPairs(df, "doc_id", "text", 3, 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(cont.toSeq == Seq((1L, 2L, 1.0)),
      s"expected the contained->container orientation only, got ${cont.toSeq}")
  }

  test("containment refuses loudly over the candidate-volume bound, naming the collapse-first twin") {
    import graft.operators.{QuadraticGuard, QuadraticRefusal}
    val key = QuadraticGuard.ConfKey
    spark.conf.set(key, "1") // any real fixture exceeds one candidate
    try {
      val e = intercept[QuadraticRefusal] {
        Dedup.ngramContainmentPairs(docs, "doc_id", "text", 3, 0.9)
      }
      assert(e.getMessage.contains("collapsedContainmentPairs"),
        "refusal must name the output-identical scale-safe twin")
      assert(e.getMessage.contains(key))
    } finally { spark.conf.unset(key); () }
    // default bound: the spec corpus is far under it — no refusal
    Dedup.ngramContainmentPairs(docs.limit(40), "doc_id", "text", 3, 0.9).count()
    ()
  }

  test("exact jaccard pairs refuse over the candidate-volume bound, naming the collapse-first twin") {
    import graft.operators.{QuadraticGuard, QuadraticRefusal}
    val key = QuadraticGuard.ConfKey
    spark.conf.set(key, "1")
    try {
      val e = intercept[QuadraticRefusal] {
        Dedup.ngramJaccardPairs(docs, "doc_id", "text", 3, 0.8)
      }
      assert(e.getMessage.contains("collapsedJaccardPairs"),
        "refusal must name the output-identical scale-safe twin")
      assert(e.getMessage.contains(key))
    } finally { spark.conf.unset(key); () }
    Dedup.ngramJaccardPairs(docs.limit(40), "doc_id", "text", 3, 0.8).count()
    ()
  }

  test("minhash-LSH pairs refuse over the bucket-volume bound, naming the collapse-first twin") {
    import graft.operators.{QuadraticGuard, QuadraticRefusal}
    val key = QuadraticGuard.ConfKey
    spark.conf.set(key, "1")
    try {
      val e = intercept[QuadraticRefusal] {
        Dedup.minhashDedupPairs(docs, "doc_id", "text", 3, 0.8)
      }
      assert(e.getMessage.contains("collapsedJaccardPairs"),
        "refusal must name the output-identical scale-safe twin")
      assert(e.getMessage.contains(key))
    } finally { spark.conf.unset(key); () }
    Dedup.minhashDedupPairs(docs.limit(40), "doc_id", "text", 3, 0.8).count()
    ()
  }

  test("collapse-first containment equals the direct join on a dup-heavy corpus") {
    import graft.syntax._
    // replicate a slice of the corpus 4x with fresh ids — the
    // duplication shape that blows the direct join up at scale
    val base = docs.filter($"doc_id" < 60).select($"doc_id", $"text")
    val dup = (0 until 4).map(k =>
        base.select(($"doc_id" + lit(k * 1000000L)).as("doc_id"), $"text"))
      .reduce(_ unionAll _)
    val direct = Dedup.ngramContainmentPairs(dup, "doc_id", "text", 3, 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val collapsed = Dedup.collapsedContainmentPairs(dup, "doc_id", "text", 3, 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(direct.nonEmpty)
    assert(collapsed == direct,
      s"missed=${(direct -- collapsed).take(5)} spurious=${(collapsed -- direct).take(5)}")
  }

  test("prefix index caps hot-shingle bucket occupancy") {
    import graft.syntax._
    val sh = Dedup.shingles(docs, "doc_id", "text", 3).cache()
    val sizes = sh.groupBy($"doc").agg(count(lit(1)).as("sz"))
    def maxOcc(ix: org.apache.spark.sql.DataFrame): Long =
      ix.groupBy($"h").agg(count(lit(1)).as("n"))
        .agg(max($"n")).collect()(0).getLong(0)
    val rawMax = maxOcc(sh)
    val prefMax = maxOcc(Dedup.prefixIndex(sh, sizes, 0.8))
    // the hot-bucket join cost is occupancy², so this is the bound
    // that keeps the exact path alive on stopword-heavy corpora
    assert(prefMax * 2 <= rawMax,
      s"prefix occupancy $prefMax should be well under raw max df $rawMax")
    // and the index itself shrinks to ~the prefix fraction (1-t of each doc)
    assert(ix_size(Dedup.prefixIndex(sh, sizes, 0.8)) * 3 <= ix_size(sh))
  }

  private def ix_size(df: org.apache.spark.sql.DataFrame): Long = df.count()

  test("positional filter prunes deep-prefix collisions, keeps true pairs") {
    import spark.implicits._
    // Hand-built inverted index: docs 1,2 (size 10) share ONLY token
    // 50, at canonical position 3 — the LAST prefix slot — of both
    // (positions 1-2 are df=1 tokens; 50 has df=2 and the smallest
    // hash among each doc's df=2 fillers). At t=0.8 the equivalent
    // overlap is α = ⌈0.8/1.8·20⌉ = 9, but a position-3/3 match bounds
    // the overlap by 1+min(7,7) = 8 — the pair cannot be true, and
    // the positional filter proves it WITHOUT verification. Helper
    // single-token docs give the filler tokens df=2; they never
    // co-occur in both prefixes and fail the length filter anyway.
    val docsSh = Seq(
      1L -> Seq(101L, 102L, 50L, 200L, 201L, 202L, 203L, 204L, 205L, 206L),
      2L -> Seq(111L, 112L, 50L, 300L, 301L, 302L, 303L, 304L, 305L, 306L)) ++
      (0 until 7).map(i => (10L + i) -> Seq(200L + i)) ++
      (0 until 7).map(i => (20L + i) -> Seq(300L + i))
    val base = docsSh.toDF("doc", "hs")
    val sh = base.select($"doc", explode($"hs").as("h"))
    val sizes = base.select($"doc", size($"hs").cast("long").as("sz"))
    val prefix = Dedup.prefixIndex(sh, sizes, 0.8).cache()
    def pairs(positional: Boolean) =
      Dedup.candidatePairs(prefix, 0.8, positional)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val plain = pairs(positional = false)
    val pos = pairs(positional = true)
    assert(plain.contains((1L, 2L)), s"fixture broken: $plain")
    assert(!pos.contains((1L, 2L)), "positional filter should prune the deep match")
    assert(pos.subsetOf(plain))

    // on the real corpus: positional candidates are a subset and the
    // final output is identical (the true-pair guarantee)
    val csh = Dedup.shingles(docs, "doc_id", "text", 3).cache()
    val csizes = csh.groupBy($"doc").agg(count(lit(1)).as("sz"))
    val cprefix = Dedup.prefixIndex(csh, csizes, 0.8).cache()
    val cPlain = Dedup.candidatePairs(cprefix, 0.8, positional = false)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val cPos = Dedup.candidatePairs(cprefix, 0.8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(cPos.subsetOf(cPlain), s"spurious=${cPos -- cPlain}")
  }

  test("jaccard values are in (0,1] and pairs are ordered a<b") {
    Dedup.ngramJaccardPairs(docs, "doc_id", "text", 3, 0.8).collect().foreach { r =>
      assert(r.getLong(0) < r.getLong(1))
      val j = r.getDouble(2)
      assert(j >= 0.8 && j <= 1.0)
    }
  }

  test("simhash: near-dup docs have small hamming distance") {
    val nearDups = Dedup.ngramJaccardPairs(docs, "doc_id", "text", 3, 0.9)
      .select("a", "b").collect().map(r => (r.getLong(0), r.getLong(1)))
    val sketches = Dedup.simhash(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(nearDups.nonEmpty)
    nearDups.foreach { case (a, b) =>
      val d = java.lang.Long.bitCount(sketches(a) ^ sketches(b))
      assert(d <= 16, s"pair ($a,$b) hamming $d")
    }
  }

  test("simhash chunk blocking finds all hamming<=3 pairs (pigeonhole)") {
    val sketches = Dedup.simhash(docs, "doc_id", "text").cache()
    val blocked = Dedup.simhashPairs(sketches, maxHamming = 3)
      .select("a", "b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // brute-force ground truth
    val all = sketches.collect().map(r => (r.getLong(0), r.getLong(1)))
    val truth = (for {
      (ida, ha) <- all; (idb, hb) <- all
      if ida < idb && java.lang.Long.bitCount(ha ^ hb) <= 3
    } yield (ida, idb)).toSet
    assert(truth.nonEmpty, "test data must contain hamming<=3 pairs")
    assert(blocked == truth, s"missed=${truth -- blocked} spurious=${blocked -- truth}")
  }

  test("native ShingleHash64 equals the lambda formulation") {
    import graft.functions.{Murmur3, TextFunctions}
    val viaLambda = docs
      .select(col("doc_id"), explode(TextFunctions.shingleSet(col("text"), 3)).as("sh"))
      .collect().map(r => (r.getLong(0), Murmur3.hash64(r.getString(1)))).toSet
    val viaNative = Dedup.shingles(docs, "doc_id", "text", 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(viaNative == viaLambda)
  }

  test("clusterReps matches driver-side union-find components") {
    val pairDf = Dedup.ngramJaccardPairs(docs, "doc_id", "text", 3, 0.8).cache()
    val pairs = pairDf.select("a", "b").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.nonEmpty)
    // ground truth: union-find
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElse(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val nodes = pairs.flatMap(p => Seq(p._1, p._2)).distinct
    val truth = nodes.map(n => n -> find(n)).toMap
    val got = Dedup.clusterReps(pairDf)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == truth)
    // representative is the min id of each cluster
    assert(got.forall { case (doc, rep) => rep <= doc })
  }

  test("bipartiteClusterReps matches union-find on random doc-key graphs, never materializes pairs") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    for (round <- 1 to 3) {
      // skewed key space ON PURPOSE: some keys shared by many docs —
      // the regime where the pair form is quadratic and this one isn't
      val postings = (1L to 60L).flatMap { doc =>
        Seq.fill(1 + rnd.nextInt(4))((doc, rnd.nextInt(25).toLong))
      }.distinct
      val got = Dedup.bipartiteClusterReps(postings.toDF("doc", "key"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      // ground truth: union-find over docs sharing a key
      val parent = scala.collection.mutable.Map[Long, Long]()
      def find(x: Long): Long = {
        val p = parent.getOrElse(x, x)
        if (p == x) x else { val r = find(p); parent(x) = r; r }
      }
      postings.groupBy(_._2).values.foreach { grp =>
        val ds = grp.map(_._1)
        ds.tail.foreach { d =>
          val (ra, rb) = (find(ds.head), find(d))
          if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
        }
      }
      val truth = postings.map(_._1).distinct.map(d => d -> find(d)).toMap
      assert(got == truth, s"round $round")
      assert(got.forall { case (doc, rep) => rep <= doc })
    }
  }

  test("exact dedup keeps one id per distinct content") {
    val out = Dedup.exactDedup(docs, "doc_id", "text")
    assert(out.count() == docs.select("text").distinct().count())
    assert(out.agg(sum("n_copies")).collect()(0).getLong(0) == docs.count())
  }

  test("collapse-first near-dedup equals the direct join on a dup-heavy corpus") {
    // replicate the corpus 3x with offset ids (the ScaleUp shape that
    // made the direct join superlinear at sf10): every content now has
    // >=3 exact copies, so both the intra-group expansion (jaccard-1
    // pairs among copies) and the cross-group routing (rep pair -> all
    // member pairs, ids interleaved across groups) carry real weight
    val base = docs.select(col("doc_id"), col("text"))
    val dup = base
      .unionAll(base.select(col("doc_id") + 1000000, col("text")))
      .unionAll(base.select(col("doc_id") + 2000000, col("text")))
    val direct = Dedup.ngramJaccardPairs(dup, "doc_id", "text", 3, 0.8)
      .select("a", "b", "jaccard").collect().toSet
    val collapsed = Dedup.collapsedJaccardPairs(dup, "doc_id", "text", 3, 0.8)
      .select("a", "b", "jaccard").collect().toSet
    assert(collapsed == direct)
    // and the duplicate structure really was exercised
    assert(direct.nonEmpty)
  }

  test("collapse-first clustering + keep-best equal the direct pipelines") {
    val base = docs.select(col("doc_id"), col("text"))
    val dup = base
      .unionAll(base.select(col("doc_id") + 1000000, col("text")))
      .unionAll(base.select(col("doc_id") + 2000000, col("text")))
    val directPairs = Dedup.ngramJaccardPairs(dup, "doc_id", "text", 3, 0.8)
    val directCC = Dedup.clusterReps(directPairs).collect().toSet
    val collapsedCC = Dedup.collapsedClusterReps(dup, "doc_id", "text", 3, 0.8)
      .collect().toSet
    assert(collapsedCC == directCC)
    val scores = dup.select(col("doc_id").as("doc"),
      size(split(col("text"), " ")).cast("long").as("score"))
    val directKB = Dedup.clusterKeepBest(directPairs, scores).collect().toSet
    val collapsedKB = Dedup.collapsedClusterKeepBest(dup, "doc_id", "text",
        3, 0.8, t => size(split(t, " ")).cast("long"))
      .collect().toSet
    assert(collapsedKB == directKB)
  }

  test("band-partitioned near-dup index: screen probe prunes the posting scan, full-band screen == full probe") {
    import spark.implicits._
    val corpus = docs.filter(col("doc_id") % 5 =!= 0)
    val probe = docs.filter(col("doc_id") % 5 === 0)
    val dir = java.nio.file.Files.createTempDirectory("graft-ndband").toString
    try {
      Dedup.appendNearDupIndex(spark, corpus, "doc_id", "text", dir)
      // layout: bands live under band=X partition directories
      val fs = new org.apache.hadoop.fs.Path(dir)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      val partDirs = fs.listStatus(new org.apache.hadoop.fs.Path(s"$dir/bands"))
        .filter(_.isDirectory).map(_.getPath.getName).toSeq
      assert(partDirs.count(_.startsWith("band=")) == 32,
        s"expected 32 band partitions, got: $partDirs")
      def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
        .map(r => (r.getLong(0), r.getLong(1), math.round(r.getDouble(2) * 1e9))).toSet
      val full = rows(Dedup.nearDupProbeIndexed(spark, dir, probe, "doc_id", "text", 0.8))
      assert(full.nonEmpty)
      // bandsProbed == recorded bands: identical result, full recall
      assert(rows(Dedup.nearDupScreenIndexed(spark, dir, probe,
        "doc_id", "text", 0.8, bandsProbed = 32)) == full)
      // 16-band screen: exact-verified subset (precision 1); on this
      // corpus recall is total (the 0.59^16 argument — deterministic)
      val screen = Dedup.nearDupScreenIndexed(spark, dir, probe,
        "doc_id", "text", 0.8, bandsProbed = 16)
      assert(rows(screen) == full)
      // and the PLAN prunes: the bands scan must read only the 16
      // probed partition directories (recurse through AQE stages —
      // executed plans wrap scans in leaf QueryStageExec nodes)
      def bandScans(p: org.apache.spark.sql.execution.SparkPlan)
          : Seq[org.apache.spark.sql.execution.FileSourceScanExec] = {
        import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
        val here = p match {
          case s: org.apache.spark.sql.execution.FileSourceScanExec
              if s.relation.location.rootPaths.exists(_.toString.contains("/bands")) =>
            Seq(s)
          case _ => Nil
        }
        val kids = p match {
          case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
          case q: QueryStageExec => Seq(q.plan)
          case other => other.children
        }
        here ++ kids.flatMap(bandScans)
      }
      val scans = bandScans(screen.queryExecution.executedPlan)
      assert(scans.nonEmpty, "expected a file scan over the bands table")
      scans.foreach { s =>
        val parts = s.relation.location.listFiles(s.partitionFilters, s.dataFilters)
        val bandVals = parts.map(_.values.getInt(0))
        assert(bandVals.nonEmpty && bandVals.forall(_ < 16),
          s"screen scan must touch only band<16 partitions, got: $bandVals")
      }
      // compaction preserves the partitioned layout and the answers
      Dedup.compactNearDupIndex(spark, dir)
      val afterDirs = fs.listStatus(new org.apache.hadoop.fs.Path(s"$dir/bands"))
        .filter(_.isDirectory).map(_.getPath.getName)
      assert(afterDirs.count(_.startsWith("band=")) == 32)
      assert(rows(Dedup.nearDupScreenIndexed(spark, dir, probe,
        "doc_id", "text", 0.8, bandsProbed = 16)) == full)
      // POINT-LOOKUP path (opt-in): a ≤8-unique-text probe pushes
      // per-band bucket IN filters into the (bucket-sorted)
      // partitioned scan — result identical to the same docs' rows
      // in the full probe
      val tiny = probe.orderBy(col("doc_id")).limit(3).cache()
      val tinyIds = tiny.collect().map(_.getLong(0)).toSet
      val tinyProbe = Dedup.nearDupProbeIndexed(spark, dir, tiny,
        "doc_id", "text", 0.8, pointLookup = true)
      assert(rows(tinyProbe) == full.filter(p => tinyIds.contains(p._1)),
        "point-lookup probe must equal the full probe's rows for those docs")
      val tinyScans = bandScans(tinyProbe.queryExecution.executedPlan)
      assert(tinyScans.nonEmpty && tinyScans.forall(s =>
        s.dataFilters.exists(_.toString.contains("bucket"))),
        "point-lookup scan must carry pushed bucket filters")
      tiny.unpersist()
      // incremental split over the same index: matched batch docs
      // INHERIT their best match's standing side; unmatched docs get
      // exactly the one-shot singleton rule (LCG of their own id)
      val sides = graft.operators.Curation
        .leakageSafeSplit(corpus, "doc_id", "text")
        .select(col("doc_id"), col("side")).cache()
      val assign = graft.operators.Curation.incrementalSplitAssign(
          spark, dir, probe, sides, "doc_id", "text", 0.8)
        .collect().map(r => (r.getLong(0),
          (if (r.isNullAt(1)) -1L else r.getLong(1), r.getString(2)))).toMap
      val sideOf = sides.collect().map(r => (r.getLong(0), r.getString(1))).toMap
      val probeIds = probe.select("doc_id").collect().map(_.getLong(0)).toSet
      assert(assign.keySet == probeIds, "one assignment per batch doc")
      val matched = assign.filter(_._2._1 >= 0)
      assert(matched.nonEmpty, "split must produce cross-side matches")
      matched.foreach { case (a, (b, side)) =>
        assert(side == sideOf(b), s"doc $a must inherit side of match $b")
      }
      assign.filter(_._2._1 < 0).foreach { case (a, (_, side)) =>
        val want = // the one-shot singleton rule, exactly
          if (((a % 1000003L) * 1103515245L + 12345L) % 1000L < 800L) "train"
          else "valid"
        assert(side == want, s"fresh doc $a must take the LCG singleton rule")
      }
      // DESYNC REFUSAL: a matched best_b missing from the standing
      // assignment must abort the job (raise_error), not silently
      // take the fresh-content rule — leakage safety fails loudly
      val someMatch = matched.head._2._1
      val holed = sides.filter(col("doc_id") =!= someMatch)
      val ex = intercept[Exception] {
        graft.operators.Curation.incrementalSplitAssign(
          spark, dir, probe, holed, "doc_id", "text", 0.8).collect()
      }
      def causes(t: Throwable): Seq[String] =
        if (t == null) Nil else t.getMessage +: causes(t.getCause)
      assert(causes(ex).exists(m => m != null && m.contains("out of sync")),
        s"expected the out-of-sync refusal, got: $ex")
      sides.unpersist()
    } finally {
      def rm(p: java.io.File): Unit = {
        val kids = p.listFiles(); if (kids != null) kids.foreach(rm)
        p.delete(); ()
      }
      rm(new java.io.File(dir))
    }
  }

  test("standing split dir: applySplitBatch keeps index+assignment in lockstep through crash replay and compaction") {
    import graft.streaming.StreamingIndex
    import graft.operators.Curation
    val spark0 = spark
    import spark0.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-splitdir").toString
    try {
      // three sequential crawl batches: a big bootstrap then two
      // probe-sized deliveries (the q229 slicing, split in two)
      val b0 = docs.filter(col("doc_id") % 5 =!= 0)
      val b1 = docs.filter(col("doc_id") % 5 === 0 && col("doc_id") % 10 === 0)
      val b2 = docs.filter(col("doc_id") % 5 === 0 && col("doc_id") % 10 =!= 0)
      assert(StreamingIndex.applySplitBatch(b0, "doc_id", "text", dir, 0L))
      assert(StreamingIndex.applySplitBatch(b1, "doc_id", "text", dir, 1L))
      assert(StreamingIndex.applySplitBatch(b2, "doc_id", "text", dir, 2L))
      def standing() = spark.read.parquet(s"$dir/sides")
        .collect().map(r => (r.getLong(0),
          (if (r.isNullAt(1)) -1L else r.getLong(1), r.getString(2)))).toMap
      val all = standing()
      val allIds = docs.select("doc_id").collect().map(_.getLong(0)).toSet
      assert(all.keySet == allIds, "one assignment row per ingested doc")
      // batch 0 bootstrapped from empty: every doc took the singleton
      // rule; later matched docs inherit their best match's standing
      // side — self-consistency of the table
      val lcgOf = (a: Long) =>
        if (((a % 1000003L) * 1103515245L + 12345L) % 1000L < 800L) "train"
        else "valid"
      all.filter(_._2._1 < 0).foreach { case (a, (_, side)) =>
        assert(side == lcgOf(a), s"fresh doc $a must take the LCG rule")
      }
      val matched = all.filter(_._2._1 >= 0)
      assert(matched.nonEmpty, "cross-batch near-dups must match")
      matched.foreach { case (a, (b, side)) =>
        assert(side == all(b)._2, s"doc $a must inherit side of match $b")
      }
      // crash replay: erase batch 2's log row (its b2_* deltas stay
      // orphaned in all FOUR subs), re-deliver — the sweep purges
      // index AND assignment before re-applying, converging exactly
      val row2 = new org.apache.hadoop.fs.Path(s"$dir/batchlog/b2.parquet")
      assert(row2.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(row2, false))
      assert(StreamingIndex.applySplitBatch(b2, "doc_id", "text", dir, 2L))
      assert(standing() == all, "replayed batch must converge exactly")
      // a re-delivered batch id no-ops
      assert(!StreamingIndex.applySplitBatch(b2, "doc_id", "text", dir, 2L))
      // compaction: one row per doc, assignment identical, and the
      // near-dup tables compact with their own maintenance call
      Curation.compactSplitAssign(spark, dir)
      graft.operators.Dedup.compactNearDupIndex(spark, dir)
      val files = new java.io.File(s"$dir/sides").listFiles()
        .filter(f => f.isFile && f.getName.endsWith(".parquet"))
      assert(files.length == 1, s"sides must fold to one segment, got ${files.length}")
      assert(standing() == all, "compaction must be probe-identical")
      // and the directory still absorbs batches after compaction
      val b3 = docs.filter(col("doc_id") % 5 === 0 && col("doc_id") % 10 === 0)
        .withColumn("doc_id", col("doc_id") + 1000000L)
      assert(StreamingIndex.applySplitBatch(b3, "doc_id", "text", dir, 3L))
      val after = standing()
      assert(after.size == all.size + b3.count())
      // b3 duplicates b1's text content exactly, so every b3 doc must
      // MATCH and inherit — none may take the fresh rule
      after.filter(_._1 >= 1000000L).foreach { case (a, (b, side)) =>
        assert(b >= 0, s"doc $a duplicates indexed content and must match")
        assert(side == after(b)._2, s"doc $a must inherit side of match $b")
      }
    } finally {
      def rm(p: java.io.File): Unit = {
        val kids = p.listFiles(); if (kids != null) kids.foreach(rm)
        p.delete(); ()
      }
      rm(new java.io.File(dir))
    }
  }

  test("near-dup append under AQE: a multi-partition delta runs its lineage once per sub-table") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd,
      SparkListenerJobStart, SparkListenerStageSubmitted}
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    import scala.jdk.CollectionConverters._
    val rows = docs.select("doc_id", "text").collect().toSeq
    val src = spark.sparkContext.parallelize(rows, 4)
    val delta = spark.createDataFrame(src, StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType))))
    val dir = java.nio.file.Files.createTempDirectory("graft-ndaqe").toString
    // a stage that runs the delta's lineage has the source RDD among
    // its narrow ancestors
    val (group, marker) = (s"ndaqe-${System.nanoTime()}", s"marker-${System.nanoTime()}")
    val runs = new java.util.concurrent.atomic.AtomicInteger()
    val markerJobs, ended = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    def inGroup(props: java.util.Properties, g: String) =
      props != null && props.getProperty("spark.jobGroup.id") == g
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (inGroup(e.properties, marker)) markerJobs.add(e.jobId)
      override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
        if (inGroup(e.properties, group) && e.stageInfo.rddInfos.exists(_.id == src.id))
          runs.incrementAndGet()
      override def onJobEnd(e: SparkListenerJobEnd): Unit = ended.add(e.jobId)
    }
    val sc = spark.sparkContext
    val aqe = spark.conf.getOption("spark.sql.adaptive.enabled")
    sc.addSparkListener(listener)
    try {
      spark.conf.set("spark.sql.adaptive.enabled", "true")
      sc.setJobGroup(group, "near-dup append", interruptOnCancel = false)
      try Dedup.appendNearDupIndex(spark, delta, "doc_id", "text", dir)
      finally sc.clearJobGroup()
      sc.setJobGroup(marker, "listener barrier", interruptOnCancel = false)
      try spark.range(1).count() finally sc.clearJobGroup()
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (!(markerJobs.asScala.nonEmpty && markerJobs.asScala.forall(ended.contains)) &&
          System.nanoTime() < deadline) Thread.sleep(10)
    } finally {
      sc.removeSparkListener(listener)
      aqe match {
        case Some(v) => spark.conf.set("spark.sql.adaptive.enabled", v)
        case None => spark.conf.unset("spark.sql.adaptive.enabled")
      }
    }
    assert(markerJobs.asScala.nonEmpty, "listener never saw the marker job")
    // bands, sets and docs each read the delta once
    assert(runs.get == 3, s"the delta's lineage ran ${runs.get} times, want 3")
    // each band still lands as one file
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val bandFiles = fs.listStatus(new org.apache.hadoop.fs.Path(s"$dir/bands"))
      .filter(_.isDirectory)
      .map(d => fs.listStatus(d.getPath).count(_.getPath.getName.endsWith(".parquet")))
    assert(bandFiles.length == 32 && bandFiles.forall(_ == 1), bandFiles.toSeq)
  }
}
