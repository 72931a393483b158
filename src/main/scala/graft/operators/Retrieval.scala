package graft.operators

import graft.functions.CallParam.param
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Lexical + vector retrieval over a document corpus — the search
  * stack a training-data pipeline runs for contamination checks,
  * curriculum mining, and RAG indexing at 100 TB.
  *
  * All three operators are EXACT and fully DuckDB-oracle-able: scores
  * are either pure-BIGINT fixed-point (BM25, RRF) or a single
  * correctly-rounded IEEE division of exactly-representable integers
  * (hashed-vector cosine), so any compliant engine re-derives them
  * bit-for-bit — no float-sum ordering hazards anywhere.
  *
  * Scale shape shared by all three:
  *   - the corpus side is touched by ONE tokenize+aggregate pass
  *     (the inverted-index build — a single shuffle on (doc, term));
  *   - the query side is a broadcast (queries are human-scale);
  *   - candidate generation is a broadcast join on query terms /
  *     hash buckets — only docs sharing a term with some query flow
  *     into scoring, the inverted-index probe analogue;
  *   - per-(query, doc) scoring is an exact integer sum (partial
  *     aggregation applies), and ranking is the k-bounded
  *     [[graft.functions.TopKAgg]] — no corpus-wide window.
  */
object Retrieval {

  /** Best-effort wall-clock attribution for composite gates (e.g. the
    * q116 build→append→probe index gate): phases record here and the
    * bench detail dump surfaces them, so a regression in a multi-phase
    * gate points at the phase that moved instead of one opaque total.
    * Last-writer-wins per key; cleared nowhere (Bench reports the
    * final pass's values).
    */
  val phaseLog = new java.util.concurrent.ConcurrentHashMap[String, Double]()

  def timedPhase[T](phase: String)(f: => T): T = {
    val t0 = System.nanoTime()
    val r = f
    phaseLog.put(phase, (System.nanoTime() - t0) / 1e9)
    r
  }

  /** Fixed-point scale for BM25 scores: 1e6 ≈ 6 fractional digits.
    * Headroom argument (BIGINT, no overflow): the largest staged
    * product is `(2N+1) · 22 · tf · avgdl · Scale`. At the gate
    * (N=5e3, tf≤5e2, avgdl≤5e2) that is ~6e16 < 2^63. At true
    * 100 TB corpus sizes (N~1e9) drop Scale to 1e3 or widen to
    * DECIMAL(38,0) — the formula is unchanged.
    */
  val Scale = 1000000L

  /** BM25 (k1=1.2, b=0.75) top-k per query, in EXACT integer
    * arithmetic end-to-end.
    *
    * Standard BM25 with two deterministic substitutions, both
    * monotone per term and documented engine contract:
    *   - rational idf `(N − df + ½)/(df + ½) = (2N−2df+1)/(2df+1)`
    *     instead of its logarithm (`ln` differs across libms — the
    *     same substitution q84's TF-IDF uses);
    *   - `avgdl` rounded half-up to an integer
    *     (`(2·Σlen + N) div 2N`), making every per-term weight a
    *     ratio of two BIGINTs:
    *       num = (2N−2df+1) · 22 · tf · avgdl
    *       den = (2df+1) · (10·tf·avgdl + 3·avgdl + 9·len)
    *     which encodes idf · tf·(k1+1) / (tf + k1·(1−b+b·len/avgdl))
    *     exactly for k1=6/5, b=3/4.
    *
    * The emitted per-term score is `num·Scale div den` (BIGINT floor
    * division), so the per-document score is an exact integer SUM —
    * associative, order-free, safe under any shuffle/partial-agg
    * schedule, and re-derivable by the oracle in plain SQL.
    *
    * @param queries (query_id, text) pairs; distinct query terms score
    *                with qtf=1.
    * @return (query_id, rank, doc_id, score_fp) — rank 1-based by
    *         (score desc, doc_id asc).
    */
  /** @param maxDfFraction stop-term guard: query terms whose document
    *                       frequency exceeds this fraction of the
    *                       corpus are skipped entirely (both candidate
    *                       generation and scoring). At 100 TB a single
    *                       stopword-like query term would otherwise
    *                       pull nearly every document into the
    *                       candidate shuffle for a term whose idf
    *                       contribution is negligible anyway. 1.0 (the
    *                       default) disables the guard; the cutoff is
    *                       the exact integer test `df·1e6 <= frac·1e6·N`
    *                       so an oracle can mirror it.
    */
  def bm25TopK(docs: DataFrame, idCol: String, textCol: String,
      queries: Seq[(Long, String)], k: Int,
      maxDfFraction: Double = 1.0): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._

    val toks = docs.select(col(idCol).as("doc_id"),
      split(col(textCol), " ").as("toks"))
    // inverted-index build: ONE shuffle on (doc_id, term); doc length
    // rides along map-side (first() per group is exact — len is a
    // function of doc_id)
    val postings = toks
      .select($"doc_id", size($"toks").cast("long").as("len"),
        explode($"toks").as("term"))
      .groupBy($"doc_id", $"term")
      .agg(count(lit(1)).as("tf"), first($"len").as("len"))
    // corpus stats: N docs, integer avgdl (round-half-up of Σlen/N)
    val stats = toks.agg(
      count(lit(1)).as("n_docs"),
      sum(size($"toks").cast("long")).as("tot_len"))
      .select($"n_docs",
        expr("(2 * tot_len + n_docs) div (2 * n_docs)").as("avgdl"))
    // document frequency per term — post-aggregation, vocabulary-sized
    val dfreq = postings.groupBy($"term").agg(count(lit(1)).as("df"))
    // query side: distinct terms, human-scale → broadcast
    val qterms = queries.toDF("query_id", "qtext")
      .select($"query_id", explode(split($"qtext", " ")).as("term"))
      .distinct()

    // only QUERY-term df rows are broadcast: dfreq is vocabulary-sized
    // (open vocabulary at 100 TB — broadcasting it whole would OOM the
    // driver), but semi-joined to the human-scale query terms it is
    // ≤ |query terms| rows
    val qdf = dfreq.join(qterms.select($"term").distinct(),
      Seq("term"), "left_semi")
    val dfCutoff = math.round(maxDfFraction * 1000000L)
    postings
      .join(broadcast(qterms), "term") // inverted-index probe: prunes to candidate docs
      .join(broadcast(qdf), "term")
      .crossJoin(broadcast(stats))
      .filter($"df" * 1000000L <= lit(dfCutoff) * $"n_docs")
      .select($"query_id", $"doc_id", termScore.as("term_score"))
      .groupBy($"query_id", $"doc_id")
      .agg(sum($"term_score").as("score_fp"))
      .transform(topKByScore(k, $"score_fp", $"doc_id", $"query_id"))
      .select($"query_id", $"rank", $"doc_id",
        $"score".cast("long").as("score_fp")) // < 2^53: the long round-trips exactly
  }

  /** Static WAND-style pruned BM25 top-k — EXACTLY equal output to
    * [[bm25TopK]] (pruning is on candidate GENERATION only; dropped
    * terms still score every surviving candidate), with stopword-like
    * query terms dropped per-(query, k) instead of by the stop-term
    * guard's global df fraction.
    *
    * The bound: each term's max achievable score
    * `U(t) = score(df(t), max_tf(t), min_len(t))` — the exact integer
    * score formula evaluated at the term's best-case posting (score is
    * monotone ↑ in tf, ↓ in len, so the pointwise max dominates every
    * real posting). Then:
    *   1. score the postings of each query's single highest-U term in
    *      full (that term's postings are a superset of nobody's — any
    *      top-k doc missing it still appears later; this round only
    *      needs k docs to LOWER-BOUND the entry bar) → θ = the k-th
    *      best full score, or −∞ when fewer than k docs matched;
    *   2. drop terms, ascending by U, while ΣU(dropped) < θ strictly:
    *      a doc containing ONLY dropped terms scores ≤ ΣU < θ, so it
    *      cannot displace the incumbent k-th doc even on the doc-id
    *      tie-break — dropping them as generators is lossless;
    *   3. candidates = docs with ≥1 surviving term, scored over ALL
    *      their query terms (dropped included) — bit-identical to the
    *      unpruned aggregate.
    *
    * Scale shape: the corpus is tokenized ONCE (query-term postings
    * are checkpointed and reused by all three rounds); candidate
    * generation skips the stopword posting lists entirely. The
    * scoring semi-join on (query_id, doc_id) still exchanges EVERY
    * query-term posting, stopwords included, before the candidate
    * filter applies (it plans as a sort-merge join; AQE turns it into
    * a broadcast only after both shuffle stages are written), so the
    * pruning saves only the candidate side, and the θ round pays that
    * exchange a second time. The θ round and the per-term stats are
    * k- and vocabulary-of-the-query bounded driver probes, amortized
    * over the whole query batch.
    *
    * @param onPrune diagnostic callback `(query_id, droppedTerms)`,
    *                invoked per query (empty seq when nothing pruned).
    */
  def bm25TopKWand(docs: DataFrame, idCol: String, textCol: String,
      queries: Seq[(Long, String)], k: Int,
      onPrune: (Long, Seq[String]) => Unit = (_, _) => ()): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val toks = docs.select(col(idCol).as("doc_id"),
      split(col(textCol), " ").as("toks"))
    val postings = toks
      .select($"doc_id", size($"toks").cast("long").as("len"),
        explode($"toks").as("term"))
      .groupBy($"doc_id", $"term")
      .agg(count(lit(1)).as("tf"), first($"len").as("len"))
    val stats = toks.agg(
      count(lit(1)).as("n_docs"),
      sum(size($"toks").cast("long")).as("tot_len"))
      .select($"n_docs",
        expr("(2 * tot_len + n_docs) div (2 * n_docs)").as("avgdl"))
    val allTerms = queries.flatMap(_._2.split(" ")).filter(_.nonEmpty).distinct
    // ONE corpus pass: only query-term postings materialize (the same
    // rows the unpruned candidate join would shuffle)
    val qpost = postings
      .join(broadcast(allTerms.toDF("term")), Seq("term"), "left_semi")
      .localCheckpoint()
    val termStats = qpost.groupBy($"term").agg(count(lit(1)).as("df"),
      max($"tf").as("max_tf"), min($"len").as("min_len"))
    wandPlan(spark, qpost, termStats, stats, queries, k, onPrune)
  }

  /** Shared WAND candidate-pruning plan over prepared frames: `qpost`
    * = postings restricted to query terms, `termStats` = per-term
    * (df, max_tf, min_len), `stats` = 1-row (n_docs, avgdl).
    */
  private def wandPlan(spark: SparkSession, qpost: DataFrame,
      termStats: DataFrame, stats: DataFrame, queries: Seq[(Long, String)],
      k: Int, onPrune: (Long, Seq[String]) => Unit): DataFrame = {
    import spark.implicits._
    val Array(st) = stats.collect()
    val (nDocs, avgdl) =
      (st.getAs[Long]("n_docs"), st.getAs[Long]("avgdl"))
    def scoreAt(df: Long, tf: Long, len: Long): Long =
      Math.floorDiv((2 * nDocs - 2 * df + 1) * 22 * tf * avgdl * Scale,
        (2 * df + 1) * (10 * tf * avgdl + 3 * avgdl + 9 * len))
    val bounds = termStats.collect()
      .map(r => r.getString(0) -> scoreAt(r.getLong(1), r.getLong(2), r.getLong(3)))
      .toMap
    val qterms = queries.map { case (qid, text) =>
      qid -> text.split(" ").filter(_.nonEmpty).distinct.toSeq
        .filter(bounds.contains) // absent from the corpus = no postings
    }
    // round 1: the strongest term per query seeds the threshold
    val strong: Map[Long, String] = qterms.collect {
      case (qid, ts) if ts.nonEmpty => qid -> ts.maxBy(t => (bounds(t), t))
    }.toMap
    val qpairsDF = qterms.flatMap { case (qid, ts) => ts.map(qid -> _) }
      .toDF("query_id", "term")
    val theta: Map[Long, Long] = {
      val candA = qpost
        .join(broadcast(strong.toSeq.toDF("query_id", "term")), "term")
        .select($"query_id", $"doc_id")
      fullScoresWithDf(spark, qpost, termStats, qpairsDF, nDocs, avgdl, candA)
        .transform(topKByScore(k, $"score_fp", $"doc_id", $"query_id"))
        .collect()
        .groupBy(_.getLong(0))
        .collect { case (qid, rows) if rows.length >= k =>
          qid -> rows.map(_.getDouble(3).toLong).min
        }
    }
    // drop ascending-U terms while the dropped mass stays under θ
    val gens = qterms.map { case (qid, ts) =>
      val th = theta.getOrElse(qid, Long.MinValue)
      val asc = ts.sortBy(t => (bounds(t), t))
      var sum = 0L
      val dropped = asc.takeWhile { t =>
        val ok = th != Long.MinValue && sum + bounds(t) < th &&
          !strong.get(qid).contains(t)
        if (ok) sum += bounds(t)
        ok
      }
      onPrune(qid, dropped)
      qid -> ts.diff(dropped)
    }
    val genDF = gens.flatMap { case (qid, ts) => ts.map(qid -> _) }
      .toDF("query_id", "term")
    val cand = qpost.join(broadcast(genDF), "term")
      .select($"query_id", $"doc_id")
    fullScoresWithDf(spark, qpost, termStats, qpairsDF, nDocs, avgdl, cand)
      .transform(topKByScore(k, $"score_fp", $"doc_id", $"query_id"))
      .select($"query_id", $"rank", $"doc_id",
        $"score".cast("long").as("score_fp"))
  }

  /** Exact BM25 sum over ALL of a candidate's query terms — the same
    * integer expression [[bm25TopK]] emits, with df joined from the
    * tiny per-term stats frame.
    */
  private def fullScoresWithDf(spark: SparkSession, qpost: DataFrame,
      termStats: DataFrame, qpairsDF: DataFrame, nDocs: Long, avgdl: Long,
      cand: DataFrame): DataFrame = {
    import spark.implicits._
    scoreSums(qpost
      .join(broadcast(qpairsDF), "term")
      .join(broadcast(termStats.select($"term", $"df")), "term")
      .join(cand, Seq("query_id", "doc_id"), "left_semi"), nDocs, avgdl)
  }

  /** The per-term BM25 weight `num·Scale div den` of [[bm25TopK]] over
    * columns named `n_docs`, `avgdl`, `df`, `tf` and `len`: the one
    * integer expression every BM25 scorer emits.
    */
  private def termScore: Column =
    expr(s"""((2*n_docs - 2*df + 1) * 22 * tf * avgdl * ${Scale}L)
             div ((2*df + 1) * (10*tf*avgdl + 3*avgdl + 9*len))""")

  /** Per-(query, doc) BM25 score `score_fp` of scored postings
    * `(query_id, doc_id, df, tf, len)`. The corpus stats enter as
    * [[graft.functions.CallParam]]s, not literals: they change with
    * every append, and as literals they made each probe compile its
    * scoring stage (two ~700-line classes) anew.
    */
  private def scoreSums(scored: DataFrame, nDocs: Long,
      avgdl: Long): DataFrame =
    scored
      .select(col("query_id"), col("doc_id"), col("df"), col("tf"),
        col("len"), param(nDocs).as("n_docs"), param(avgdl).as("avgdl"))
      .select(col("query_id"), col("doc_id"), termScore.as("term_score"))
      .groupBy(col("query_id"), col("doc_id"))
      .agg(sum(col("term_score")).as("score_fp"))

  /** Bucket-count policy for [[buildBm25Index]]: one bucket per
    * ~`docsPerBucket` documents, rounded UP to a power of two (bucket
    * pruning and the probe's bucketed joins like pow-2 counts),
    * clamped to [8, 4096] — so per-bucket file sizes stay flat as the
    * corpus grows instead of each of a HAND-SET 8 buckets growing
    * with the corpus. 4096 × 64Ki docs ≈ 270M docs per index before
    * the cap; beyond that an index is sharded by corpus partition
    * anyway. Deterministic in the doc count alone, and the chosen
    * value is RECORDED in the index's 1-row `stats` table, so append
    * and compaction never depend on a caller re-passing it.
    */
  private[graft] def sizeAdaptiveBuckets(nDocs: Long,
      docsPerBucket: Long = 65536L): Int = {
    val want = math.max(8L, (nDocs + docsPerBucket - 1) / docsPerBucket)
    // next power of two >= want
    val pow = java.lang.Long.highestOneBit(want * 2 - 1)
    math.min(4096L, pow).toInt
  }

  /** The index's 1-row `stats` table (`n_docs`, `avgdl`, `tot_len`,
    * `buckets`), read on the driver at its catalog location: no Spark
    * job, and the file listing is fresh on every call.
    */
  private def indexStats(spark: SparkSession, db: String): org.apache.parquet.example.data.Group = {
    val table = spark.sessionState.sqlParser.parseTableIdentifier(s"$db.stats")
    val loc = spark.sessionState.catalog.getTableMetadata(table).location
    val Seq(row) = TinyParquet.rows(spark.sparkContext.hadoopConfiguration, loc.toString)
    row
  }

  /** Build the BM25 index ONCE as persisted tables — the
    * build-vs-probe separation that lets repeated query batches skip
    * the corpus tokenize pass entirely. Postings and document
    * frequencies are BUCKETED BY TERM (the BucketingSpec pattern), so
    * an open-vocabulary probe that joins them term-to-term needs no
    * exchange on either side; corpus stats are a 1-row table.
    *
    * `buckets <= 0` (the default) derives the count from the corpus
    * size via [[sizeAdaptiveBuckets]] — one extra count job on the
    * pre-tokenize frame — and either way the used value is recorded
    * in `stats.buckets` as index metadata ([[appendToBm25Index]] and
    * [[compactBm25Index]] read it from there; an explicit value is a
    * test/override knob, not something callers must thread through).
    *
    * @param db pre-created database to write `postings` / `dfreq` /
    *           `stats` into (caller owns its location + lifecycle).
    */
  def buildBm25Index(docs: DataFrame, idCol: String, textCol: String,
      db: String, buckets: Int = 0): Unit = {
    val spark = docs.sparkSession
    import spark.implicits._
    val nBuckets = if (buckets > 0) buckets else sizeAdaptiveBuckets(docs.count())
    // corpus stats ride the postings write as an observed metric on
    // the pre-explode frame — the corpus is tokenized exactly ONCE
    val obs = org.apache.spark.sql.Observation("bm25_build_stats")
    val postings = docs
      .select(col(idCol).as("doc_id"), split(col(textCol), " ").as("toks"))
      .observe(obs, count(lit(1)).as("n"),
        sum(size($"toks").cast("long")).as("t"))
      .select($"doc_id", size($"toks").cast("long").as("len"),
        explode($"toks").as("term"))
      .groupBy($"doc_id", $"term")
      .agg(count(lit(1)).as("tf"), first($"len").as("len"))
      // align task partitions with bucket ids (same HashPartitioning
      // the bucketed writer hashes with): one file per bucket per
      // write, instead of shufflePartitions × buckets small files
      .repartition(nBuckets, $"term")
    timedPhase("bm25.build.postings")(
      postings.write.mode("overwrite")
        .bucketBy(nBuckets, "term").sortBy("term")
        .saveAsTable(s"$db.postings"))
    // block-max metadata rides the df table: each term's best-case
    // posting (max tf, min len) bounds its max achievable score. The
    // one-pass probe does not read it; it is still written so that
    // appends to existing indexes keep one dfreq schema
    timedPhase("bm25.build.dfreq")(
      spark.table(s"$db.postings")
        .groupBy($"term").agg(count(lit(1)).as("df"),
          max($"tf").as("max_tf"), min($"len").as("min_len"))
        .write.mode("overwrite")
        .bucketBy(nBuckets, "term").sortBy("term")
        .saveAsTable(s"$db.dfreq"))
    timedPhase("bm25.build.stats") {
      val m = obs.get // fired during the postings write
      val (n, t) = (m("n").asInstanceOf[Long], m("t").asInstanceOf[Long])
      Seq((n, Math.floorDiv(2 * t + n, 2 * n), t, nBuckets))
        .toDF("n_docs", "avgdl", "tot_len", "buckets")
        // tot_len kept so appends re-derive avgdl exactly; buckets is
        // the layout metadata every later writer reads back
        .write.mode("overwrite").saveAsTable(s"$db.stats")
    }
  }

  /** Append a batch of NEW documents to a [[buildBm25Index]] index
    * without rebuilding it — the nightly-refresh path of a production
    * corpus index. Contract: the batch's doc ids are disjoint from
    * the indexed ones (appends, not upserts).
    *
    * Cost contract — everything scales with the DELTA, never the
    * index: the delta is tokenized ONCE (the (doc,term) aggregate is
    * persisted across its three consumers), its postings append into
    * the term-bucketed table (same bucket spec, so probe-side joins
    * stay exchange-free), and its df / block-max rows append as a
    * mergeable SEGMENT of the `dfreq` table rather than rewriting the
    * vocabulary-sized metadata in place. Each metadata field is a
    * semigroup (`sum(df)`, `max(max_tf)`, `min(min_len)`), so the
    * probe folds segments per term — an exchange-free aggregation on
    * the bucketed read — and the incremental index answers every probe
    * exactly as a from-scratch build would. The 1-row stats table
    * re-derives avgdl from the exact running (n_docs, tot_len), with
    * the delta's (n, Σlen) read off the cached postings (every doc
    * emits ≥1 posting; Σtf = token count) instead of a third tokenize
    * pass. Long-lived indexes fold accumulated segments back to one
    * row per term with [[compactBm25Index]].
    */
  def appendToBm25Index(docs: DataFrame, idCol: String, textCol: String,
      db: String): Unit = {
    val spark = docs.sparkSession
    import spark.implicits._
    // one driver-side read of the 1-row stats table: the bucket layout
    // (the index owns it: read it back, never re-derive) and the
    // running totals
    val old = indexStats(spark, db)
    val buckets = old.getInteger("buckets", 0)
    // the delta's (n_docs, Σlen) ride the postings write as an
    // OBSERVED metric on the pre-explode frame — exact integer
    // aggregates collected by the listener for free, no extra job
    val obs = org.apache.spark.sql.Observation("bm25_delta_stats")
    val deltaPostings = docs
      .select(col(idCol).as("doc_id"),
        split(col(textCol), " ").as("toks"))
      .observe(obs, count(lit(1)).as("n"),
        sum(size($"toks").cast("long")).as("t"))
      .select($"doc_id", size($"toks").cast("long").as("len"),
        explode($"toks").as("term"))
      .groupBy($"doc_id", $"term")
      .agg(count(lit(1)).as("tf"), first($"len").as("len"))
      // bucket-aligned BEFORE the persist: the postings append writes
      // one file per bucket, and the cached partitioning satisfies the
      // dfreq segment's groupBy(term) with no further exchange
      .repartition(buckets, $"term")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      timedPhase("bm25.append.postings")(
        deltaPostings.write.mode("append")
          .bucketBy(buckets, "term").sortBy("term")
          .saveAsTable(s"$db.postings"))
      timedPhase("bm25.append.dfreq")(
        deltaPostings.groupBy($"term").agg(
            count(lit(1)).as("df"), max($"tf").as("max_tf"),
            min($"len").as("min_len"))
          .write.mode("append")
          .bucketBy(buckets, "term").sortBy("term")
          .saveAsTable(s"$db.dfreq"))
      timedPhase("bm25.append.stats") {
        val m = obs.get // fired during the postings write
        val (n, t) = (old.getLong("n_docs", 0) + m("n").asInstanceOf[Long],
          old.getLong("tot_len", 0) + m("t").asInstanceOf[Long])
        Seq((n, Math.floorDiv(2 * t + n, 2 * n), t, buckets))
          .toDF("n_docs", "avgdl", "tot_len", "buckets")
          .write.mode("overwrite").saveAsTable(s"$db.stats")
      }
    } finally { deltaPostings.unpersist(); () }
  }

  /** Fold a much-appended index's `dfreq` segments back to one row per
    * term (the from-scratch layout) — maintenance for long-lived
    * indexes, NOT required for correctness: the probe merges segments
    * on read, so compaction only trims the per-probe fold once the
    * segment count is worth a vocabulary-sized rewrite. Staged to a
    * sibling table and swapped by rename, same as any metadata swap.
    */
  def compactBm25Index(spark: SparkSession, db: String): Unit = {
    import spark.implicits._
    val buckets = indexStats(spark, db).getInteger("buckets", 0)
    // fold every segment, including those appended from another session
    spark.catalog.refreshTable(s"$db.dfreq")
    spark.table(s"$db.dfreq")
      .groupBy($"term").agg(sum($"df").as("df"),
        max($"max_tf").as("max_tf"), min($"min_len").as("min_len"))
      .write.mode("overwrite")
      .bucketBy(buckets, "term").sortBy("term")
      .saveAsTable(s"$db.dfreq_stage")
    spark.sql(s"DROP TABLE $db.dfreq")
    spark.sql(s"ALTER TABLE $db.dfreq_stage RENAME TO $db.dfreq")
    ()
  }

  /** BM25 probe over a [[buildBm25Index]] index: identical scoring
    * and output contract to [[bm25TopK]], but the corpus is never
    * touched — the probe reads the bucketed postings/df tables.
    *
    * One scoring pass: query-term postings ⋈ broadcast (query, term)
    * pairs ⋈ broadcast folded df → per-term score → sum per
    * (query, doc) → [[topKByScore]]. The only exchange before the
    * ranking carries partial sums, so it moves at most the rows a
    * candidate semi-join on (query_id, doc_id) would, and it runs
    * once. The probe does no WAND pruning ([[bm25TopKWand]] does,
    * corpus-side): pruning narrows only the candidate side, and the
    * scoring still exchanges every query-term posting, so a θ round
    * here would run that exchange twice and save nothing. Ties still break
    * doc_id-ascending, so the output equals [[bm25TopK]]'s. `dfreq`
    * still carries the block-max columns (`max_tf`, `min_len`),
    * which the probe does not read, so appends to existing indexes
    * keep one schema.
    *
    * Jobs: the df broadcast, then the scoring and ranking stages —
    * five in all under AQE (RetrievalSpec counts them); the 1-row
    * stats table is read on the driver. The call refreshes `postings`
    * and `dfreq` first, so a probe sees appends and compactions made
    * from other sessions (a streaming `foreachBatch` runs in one).
    */
  def bm25TopKIndexed(spark: SparkSession, db: String,
      queries: Seq[(Long, String)], k: Int): DataFrame = {
    import spark.implicits._
    val qpairs = queries.flatMap { case (qid, text) =>
      text.split(" ").filter(_.nonEmpty).distinct.map(qid -> _)
    }
    // the query-term restriction is an IN-list FILTER, not a semi-join:
    // the literal list reaches the scan, so Spark prunes whole buckets
    // (SelectedBucketsCount) and pushes the predicate into parquet
    // row-group skipping on the term-sorted files
    val qfilter = col("term").isin(qpairs.map(_._2).distinct: _*)
    // one current view of the index: `stats` is read fresh below, and
    // this session's cached listings of the other two may predate an
    // append or a compaction made from another session
    Seq("postings", "dfreq").foreach(t => spark.catalog.refreshTable(s"$db.$t"))
    // fold append segments per term (semigroup merge; exchange-free —
    // dfreq is bucketed by term). One row per term on a compacted or
    // never-appended index, so the fold is a no-op there.
    val termDf = spark.table(s"$db.dfreq").filter(qfilter)
      .groupBy($"term").agg(sum($"df").as("df"))
    val st = indexStats(spark, db)
    scoreSums(spark.table(s"$db.postings").filter(qfilter)
        .join(broadcast(qpairs.toDF("query_id", "term")), "term")
        .join(broadcast(termDf), "term"),
        st.getLong("n_docs", 0), st.getLong("avgdl", 0))
      .transform(topKByScore(k, $"score_fp", $"doc_id", $"query_id"))
      .select($"query_id", $"rank", $"doc_id",
        $"score".cast("long").as("score_fp"))
  }

  /** Feature-hashing (hashing-trick) vectorizer bucket for a token:
    * a position-weighted code-point sum mod `dim`. Pure arithmetic on
    * BIGINTs — any engine (the oracle included) recomputes it exactly;
    * collisions are part of the hashing-trick contract, not a defect.
    */
  def tokenBucket(term: Column, dim: Int): Column =
    // codegen'd kernel ([[graft.functions.TokenBucket]]); the HOF form
    // (aggregate(transform(split(term, ""), ascii·(i+1))) % dim) is
    // value-identical but pays a regex split + interpreted lambda per
    // token on the exploded corpus stream
    graft.functions.TokenBucket.tokenBucket(term, dim)

  /** Sparse hashed count-vectors: one row per (id, bucket) with the
    * summed token count. The sparse layout IS the index — cosine
    * scoring joins on bucket, touching only co-occupied dimensions.
    */
  def hashedVectors(df: DataFrame, idCol: String, textCol: String,
      dim: Int): DataFrame =
    df.select(col(idCol).as("id"),
        explode(split(col(textCol), " ")).as("term"))
      // drop zero-length tokens (consecutive/leading/trailing spaces):
      // Spark's aggregate over split("","") yields bucket 0 while a
      // SQL list_sum over an empty list yields NULL — filtering both
      // sides keeps engine and oracle identical on ragged whitespace
      .filter(length(col("term")) > 0)
      .select(col("id"), tokenBucket(col("term"), dim).as("bucket"))
      .groupBy(col("id"), col("bucket"))
      .agg(count(lit(1)).as("c"))

  /** Exact cosine top-k over hashed count-vectors, ranking entirely in
    * exact arithmetic: for non-negative integer vectors, cosine order
    * equals `dot² / |d|²` order (|q|² constant per query), and with
    * every operand < 2^53 that is ONE correctly-rounded IEEE division
    * of exact integers — bit-identical in any engine, rank-stable.
    *
    * @return (query_id, rank, doc_id, dot, cos2_num) — cos2_num is
    *         dot²/|d|² (the |q|²-free ranking score).
    */
  def hashedVectorTopK(docs: DataFrame, idCol: String, textCol: String,
      queries: Seq[(Long, String)], dim: Int, k: Int): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val dv = hashedVectors(docs, idCol, textCol, dim)
    val dnorm = dv.groupBy($"id").agg(sum($"c" * $"c").as("norm2"))
    val qv = hashedVectors(
      queries.toDF("query_id", "qtext"), "query_id", "qtext", dim)
      .withColumnsRenamed(Map("id" -> "query_id", "c" -> "qc"))
    dv.join(broadcast(qv), "bucket") // co-occupied buckets only
      .groupBy($"query_id", col("id").as("doc_id"))
      .agg(sum($"c" * $"qc").as("dot"))
      .join(dnorm.withColumnRenamed("id", "doc_id"), "doc_id")
      .withColumn("cos2_num", ($"dot" * $"dot").cast("double") / $"norm2")
      .transform(topKByScore(k, $"cos2_num", $"doc_id", $"query_id"))
      .select($"query_id", $"rank", $"doc_id", $"score".as("cos2_num"))
  }

  /** Reciprocal-rank fusion of two ranked lists, exact fixed-point:
    * each (query, doc) contributes `RrfScale div (60 + rank)` per list
    * it appears in (RRF with the standard K=60), and the fused score
    * is the exact BIGINT sum — order-free, oracle-re-derivable.
    *
    * @param a,b (query_id, rank, doc_id, …) ranked lists.
    * @return (query_id, rank, doc_id, rrf_fp) top-k by fused score.
    */
  val RrfScale = 1000000000000L

  def rrfFuse(a: DataFrame, b: DataFrame, k: Int): DataFrame = {
    val spark = a.sparkSession
    import spark.implicits._
    val contrib = (df: DataFrame) => df.select($"query_id", $"doc_id",
      expr(s"${RrfScale}L div (60 + rank)").as("part"))
    contrib(a).unionAll(contrib(b))
      .groupBy($"query_id", $"doc_id")
      .agg(sum($"part").as("rrf_fp"))
      .transform(topKByScore(k, $"rrf_fp", $"doc_id", $"query_id"))
      .select($"query_id", $"rank", $"doc_id",
        $"score".cast("long").as("rrf_fp"))
  }

  /** Fixed-point scale shared by MMR's relevance and similarity terms. */
  val MmrScale = 1000000L

  /** Maximal-marginal-relevance re-rank of a fused shortlist — the
    * diversification pass that keeps near-duplicate passages out of a
    * retrieved context set. Entirely in exact integer arithmetic
    * (contract: rank-reciprocal relevance `MmrScale div rank`,
    * hashed-vector cosine² penalty `dot²·MmrScale div (|a|²|b|²)`,
    * λ = 1/2 so the marginal score is `rel − maxSimToSelected`), so a
    * plain-SQL oracle re-derives every greedy step.
    *
    * Scale shape: the shortlist is k-bounded per query; the corpus is
    * filtered to the shortlist docs BEFORE vectorizing (broadcast
    * semi-join — never a corpus-wide tokenize for k·|queries| rows,
    * never a corpus self-join). The greedy itself is partition-local:
    * one `groupByKey(query_id)` shuffle co-locates each query's rel
    * rows and candidate vectors, and `flatMapGroups` runs the k²/2
    * pair cosines plus all k marginal-argmax steps in memory (state
    * per query ≤ k rels + k·dim sparse vector entries) — one job,
    * embarrassingly parallel across queries, no driver-paced rounds.
    * This is the one operator where typed `mapGroups` beats the
    * relational formulation: the loop-carried dependency between
    * greedy steps is k-bounded per key, so expressing it as k−1
    * separate jobs would serialize every query through the driver's
    * job scheduler.
    *
    * The trade-off weight λ is a RATIONAL `lambdaNum/lambdaDen`, kept
    * exact by clearing denominators: the greedy argmax compares
    * `lambdaNum·rel − (lambdaDen−lambdaNum)·maxSim` (the marginal
    * scaled by lambdaDen — scaling never changes an argmax). The
    * default 1/2 is the classic balanced MMR and reduces to
    * `rel − maxSim`; λ = 1 degenerates to the input relevance order,
    * λ = 0 to pure diversity.
    *
    * @param ranked fused shortlist (query_id, rank, doc_id).
    * @param k      number of diversified picks (greedy steps).
    * @return (query_id, doc_id, sel_rank) — sel_rank 1-based pick order.
    */
  def mmrRerank(ranked: DataFrame, docs: DataFrame, idCol: String,
      textCol: String, dim: Int, k: Int,
      lambdaNum: Long = 1L, lambdaDen: Long = 2L): DataFrame = {
    require(lambdaDen > 0 && lambdaNum >= 0 && lambdaNum <= lambdaDen,
      "lambda must be a rational in [0, 1]")
    val spark = ranked.sparkSession
    import spark.implicits._
    // checkpoint the k-bounded shortlist once so the upstream
    // retrieval chain executes exactly once (it feeds the greedy
    // input and the shortlist-doc filter below)
    val cand = ranked.select($"query_id", $"doc_id",
      expr(s"${MmrScale}L div rank").as("rel_fp")).localCheckpoint()
    // candidate vectors: the corpus is FILTERED to the k·|queries|
    // shortlist docs BEFORE tokenizing (broadcast semi-join on the
    // checkpointed ids — at 100 TB the scan prunes to the shortlist
    // instead of vectorizing the whole corpus to keep 50 rows), then
    // replicated per query by the shortlist join
    val ids = cand.select($"doc_id") // no distinct: semi-join dedups
    val cdv = hashedVectors(
        docs.join(broadcast(ids.withColumnRenamed("doc_id", idCol)),
          Seq(idCol), "left_semi"),
        idCol, textCol, dim)
      .withColumnRenamed("id", "doc_id")
    val cv = cand.select($"query_id", $"doc_id").join(broadcast(cdv), "doc_id")

    // unify rel rows (kind 0) and vector entries (kind 1), co-locate
    // per query, and run the whole greedy in memory — pair cosines
    // included: with ≤ k vectors of ≤ dim sparse entries per query,
    // the k²/2 dots are cheaper in-task than as a self-join plan
    // (state per query ≤ k rels + k·dim vector entries). sim_fp is
    // the SAME exact integer expression the relational form used:
    // (dot²·MmrScale) floorDiv (na·nb), every operand < 2^63.
    val unified = cand.select($"query_id", lit(0).as("kind"),
        $"doc_id".as("a"), lit(0L).as("b"), $"rel_fp".as("v"))
      .unionAll(cv.select($"query_id", lit(1).as("kind"),
        $"doc_id".as("a"), $"bucket".as("b"), $"c".as("v")))
      .as[(Long, Int, Long, Long, Long)]
    unified.groupByKey(_._1).flatMapGroups { (qid, rows) =>
      val rel = scala.collection.mutable.HashMap.empty[Long, Long]
      val vec = scala.collection.mutable.HashMap
        .empty[Long, scala.collection.mutable.HashMap[Long, Long]]
      rows.foreach { case (_, kind, a, b, v) =>
        if (kind == 0) rel(a) = v
        else vec.getOrElseUpdate(a,
          scala.collection.mutable.HashMap.empty[Long, Long])(b) = v
      }
      val norm = vec.map { case (d, m) =>
        d -> m.valuesIterator.map(c => c * c).sum
      }
      val simMemo = scala.collection.mutable.HashMap.empty[(Long, Long), Long]
      def simFp(x: Long, y: Long): Long = {
        val key = if (x < y) (x, y) else (y, x)
        simMemo.getOrElseUpdate(key, {
          (vec.get(x), vec.get(y)) match {
            case (Some(mx), Some(my)) =>
              val (small, large) = if (mx.size <= my.size) (mx, my) else (my, mx)
              var dot = 0L
              small.foreach { case (b, c) => dot += c * large.getOrElse(b, 0L) }
              val den = norm(x) * norm(y)
              if (den == 0L) 0L else Math.floorDiv(dot * dot * MmrScale, den)
            case _ => 0L
          }
        })
      }
      val out = Seq.newBuilder[(Long, Long, Long)]
      // seed with rank 1 (the unique rel_fp == MmrScale row)
      val seed = rel.collect { case (d, r) if r == MmrScale => d }
      if (seed.nonEmpty) {
        val selected = scala.collection.mutable.ArrayBuffer(seed.min)
        out += ((qid, selected.head, 1L))
        var t = 2
        while (t <= k && selected.size < rel.size) {
          // argmax of (λ·rel − (1−λ)·maxSimToSelected, −doc) with
          // denominators cleared: ties → smaller id, exactly
          // max(struct(mmr, −doc_id)) in the relational form
          var bestDoc = 0L
          var bestMmr = Long.MinValue
          var first = true
          rel.foreach { case (d, r) =>
            if (!selected.contains(d)) {
              var pen = 0L
              selected.foreach { s =>
                val sv = simFp(d, s)
                if (sv > pen) pen = sv
              }
              val m = lambdaNum * r - (lambdaDen - lambdaNum) * pen
              if (first || m > bestMmr || (m == bestMmr && d < bestDoc)) {
                bestMmr = m; bestDoc = d; first = false
              }
            }
          }
          selected += bestDoc
          out += ((qid, bestDoc, t.toLong))
          t += 1
        }
      }
      out.result().iterator
    }.toDF("query_id", "doc_id", "sel_rank")
  }

  /** Facility-location diversified re-rank — the submodular-coverage
    * generalization of [[mmrRerank]]: greedily pick the candidate
    * maximizing the WEIGHTED COVERAGE GAIN
    * `Σ_d w_d · max(sim(d,c) − cur(d), 0)` where `w_d` is the
    * rank-reciprocal relevance (`MmrScale div rank`), `sim` the hashed
    * cosine² fixed-point with `sim(d,d) = MmrScale` (a candidate fully
    * covers itself), and `cur(d) = max_{s∈S} sim(d,s)` the coverage so
    * far. Every term is an exact integer (gain < k·MmrScale² < 2^63),
    * so the oracle re-derives each greedy step as an unrolled CTE.
    * Ties break doc_id-ascending. Same partition-local `mapGroups`
    * scale shape as [[mmrRerank]].
    *
    * @return (query_id, doc_id, sel_rank) — sel_rank 1-based pick order.
    */
  def facilityRerank(ranked: DataFrame, docs: DataFrame, idCol: String,
      textCol: String, dim: Int, k: Int): DataFrame = {
    val spark = ranked.sparkSession
    import spark.implicits._
    val cand = ranked.select($"query_id", $"doc_id",
      expr(s"${MmrScale}L div rank").as("rel_fp")).localCheckpoint()
    val ids = cand.select($"doc_id")
    val cdv = hashedVectors(
        docs.join(broadcast(ids.withColumnRenamed("doc_id", idCol)),
          Seq(idCol), "left_semi"),
        idCol, textCol, dim)
      .withColumnRenamed("id", "doc_id")
    val cv = cand.select($"query_id", $"doc_id").join(broadcast(cdv), "doc_id")
    val unified = cand.select($"query_id", lit(0).as("kind"),
        $"doc_id".as("a"), lit(0L).as("b"), $"rel_fp".as("v"))
      .unionAll(cv.select($"query_id", lit(1).as("kind"),
        $"doc_id".as("a"), $"bucket".as("b"), $"c".as("v")))
      .as[(Long, Int, Long, Long, Long)]
    unified.groupByKey(_._1).flatMapGroups { (qid, rows) =>
      val rel = scala.collection.mutable.HashMap.empty[Long, Long]
      val vec = scala.collection.mutable.HashMap
        .empty[Long, scala.collection.mutable.HashMap[Long, Long]]
      rows.foreach { case (_, kind, a, b, v) =>
        if (kind == 0) rel(a) = v
        else vec.getOrElseUpdate(a,
          scala.collection.mutable.HashMap.empty[Long, Long])(b) = v
      }
      val norm = vec.map { case (d, m) =>
        d -> m.valuesIterator.map(c => c * c).sum
      }
      val simMemo = scala.collection.mutable.HashMap.empty[(Long, Long), Long]
      def simFp(x: Long, y: Long): Long =
        if (x == y) MmrScale // self-coverage is exact by contract
        else {
          val key = if (x < y) (x, y) else (y, x)
          simMemo.getOrElseUpdate(key, {
            (vec.get(x), vec.get(y)) match {
              case (Some(mx), Some(my)) =>
                val (small, large) = if (mx.size <= my.size) (mx, my) else (my, mx)
                var dot = 0L
                small.foreach { case (b, c) => dot += c * large.getOrElse(b, 0L) }
                val den = norm(x) * norm(y)
                if (den == 0L) 0L else Math.floorDiv(dot * dot * MmrScale, den)
              case _ => 0L
            }
          })
        }
      val cur = scala.collection.mutable.HashMap.empty[Long, Long]
      val selected = scala.collection.mutable.ArrayBuffer.empty[Long]
      val out = Seq.newBuilder[(Long, Long, Long)]
      var t = 1
      while (t <= k && selected.size < rel.size) {
        var bestDoc = 0L
        var bestGain = Long.MinValue
        var first = true
        rel.keysIterator.foreach { c =>
          if (!selected.contains(c)) {
            var gain = 0L
            rel.foreach { case (d, w) =>
              val inc = simFp(d, c) - cur.getOrElse(d, 0L)
              if (inc > 0) gain += w * inc
            }
            if (first || gain > bestGain || (gain == bestGain && c < bestDoc)) {
              bestGain = gain; bestDoc = c; first = false
            }
          }
        }
        selected += bestDoc
        rel.keysIterator.foreach { d =>
          val s = simFp(d, bestDoc)
          if (s > cur.getOrElse(d, 0L)) cur(d) = s
        }
        out += ((qid, bestDoc, t.toLong))
        t += 1
      }
      out.result().iterator
    }.toDF("query_id", "doc_id", "sel_rank")
  }

  /** Positional phrase search — exact phrase-occurrence counts per
    * (document, phrase) through the positional inverted index, the way
    * a search engine actually answers quoted queries (NOT a substring
    * scan: token-boundary-exact, and counts OVERLAPPING occurrences,
    * which a split-by-separator recount provably misses).
    *
    * The alignment trick: a posting (doc, pos, term) matching phrase
    * offset `off` votes for candidate start `pos − off`; a start is a
    * real occurrence iff ALL phrase offsets voted —
    * `countDistinct(off) == phrase length` (duplicate tokens inside
    * the phrase are handled exactly: each true start collects every
    * offset, false starts stay short). One broadcast join prunes the
    * postings stream to phrase terms (human-scale query side), then
    * two key-partitioned aggregations on narrow rows; nothing scales
    * with corpus × phrases beyond matched postings.
    */
  def phraseSearch(docs: DataFrame, idCol: String, textCol: String,
      phrases: Seq[(Long, String)]): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val post = docs.select(col(idCol).as("doc_id"),
      posexplode(split(col(textCol), " ")).as(Seq("pos", "term")))
    val pq = phrases.toDF("phrase_id", "phrase")
      .select($"phrase_id",
        posexplode(split($"phrase", " ")).as(Seq("off", "pterm")))
    val plen = phrases.map { case (id, p) => (id, p.split(" ").length.toLong) }
      .toDF("phrase_id", "plen")
    post.join(broadcast(pq), $"term" === $"pterm")
      .select($"doc_id", $"phrase_id", ($"pos" - $"off").as("start"), $"off")
      .groupBy($"doc_id", $"phrase_id", $"start")
      .agg(countDistinct($"off").as("k"))
      .join(broadcast(plen), Seq("phrase_id"))
      .filter($"k" === $"plen")
      .groupBy($"doc_id", $"phrase_id")
      .agg(count(lit(1)).as("n_occurrences"))
  }

  /** Collapse-first [[phraseSearch]] — the q198/q200 lesson applied
    * to retrieval: phrase-occurrence counts are pure functions of
    * CONTENT, so on a duplicated corpus the matched-postings stream
    * (the only frame that scales with corpus × phrase terms, and the
    * named cause of q202's 7.2× sf100 decade) should follow UNIQUE
    * content, not row count. Collapse to unique texts by 64-bit
    * content hash, run the positional alignment once per unique text,
    * fan the counts back out through one 8-byte-keyed equi-join.
    * Row-identical to the direct form (PropertySpec pins it on random
    * duplicated corpora; the q212 gate holds q202's oracle verbatim);
    * the [[graft.operators.LangModel.hashCollisions]] audit posture
    * applies to the collapse key.
    */
  def phraseSearchCollapsed(docs: DataFrame, idCol: String,
      textCol: String, phrases: Seq[(Long, String)]): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val g = docs.groupBy(xxhash64(col(textCol)).as("kh"))
      .agg(first(col(textCol)).as("txt"))
    val perText = phraseSearch(g, "kh", "txt", phrases)
      .withColumnRenamed("doc_id", "kh")
    docs.select(col(idCol).as("doc_id"), xxhash64(col(textCol)).as("kh"))
      .join(perText, Seq("kh"))
      .select($"doc_id", $"phrase_id", $"n_occurrences")
  }

  /** Shared k-bounded ranking tail: TopKAgg per group + posexplode to
    * 1-based ranks. Scores must be exactly representable as doubles
    * (all callers keep |score| < 2^53); ties break doc_id-ascending,
    * matching a `row_number() OVER (ORDER BY score DESC, id)` oracle.
    */
  private def topKByScore(k: Int, score: Column, id: Column,
      group: Column)(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.groupBy(group)
      .agg(graft.functions.TopKAgg.topk_by_score(score.cast("double"), id, k)
        .as("top"))
      .select(group, posexplode($"top").as(Seq("pos", "t")))
      .select(group, ($"pos" + 1).cast("long").as("rank"),
        $"t.id".as("doc_id"), $"t.score".as("score"))
  }
}
