package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.syntax._

/** Corpus-trained bigram language-model scoring — the
  * perplexity-filter stage of a training-data pipeline (CCNet /
  * Gopher-style quality filtering): train token-bigram statistics on
  * the corpus itself, then score every document by how SURPRISING its
  * token stream is under the model. Documents whose bigrams are rare
  * relative to their context score high and are the ones a quality
  * funnel inspects or drops.
  *
  * Arithmetic posture (the BM25 lesson, see
  * [[Retrieval.bm25TopK]]): the per-bigram score is the add-one
  * smoothed INVERSE conditional probability in integer fixed point —
  * `SCALE · (c(w1·) + V) div (c(w1 w2) + 1)` — not `-log p`. Inverse
  * probability is a strictly monotone transform of per-bigram
  * surprisal, every step is exact int64 arithmetic, and the summed
  * document score is therefore bit-deterministic at any parallelism
  * AND engine-exact against a SQL oracle; a float `log` would differ
  * in the last ulp between libm implementations and break the gate.
  * (The sum weights heavy-tail bigrams harder than an NLL sum would —
  * for a FILTER that ranks outliers first, that bias is the useful
  * direction.)
  *
  * Overflow posture: the per-document sum is guarded, not assumed.
  * Every term is positive and bounded by the per-corpus maximum
  * (≈ `SCALE·(max c1 + V)` for add-one, `SCALE·5·(T+V)/2` for the
  * backoff unseen branch), so a wrapped int64 sum of positives lands
  * BELOW the group's max term after one wrap; the scoring aggregate
  * therefore also tracks `max(term_fp)` and raises a descriptive
  * error (advising a SCALE decade drop) when either `surprise_fp <
  * max_term` (definite wrap) or `n_bigrams · max_term` cannot be
  * certified `< 2^64` (a multi-wrap could land anywhere) — any row
  * that passes is PROVEN un-wrapped. At gate scales the headroom is
  * ~9 orders of magnitude; the guard exists for the 100 TB corpus ×
  * book-length document corner.
  *
  * Scale shape — COLLAPSE-FIRST BY CONTENT HASH, exactly the
  * [[Dedup.collapsedJaccardPairs]] pattern: counts and scores are
  * pure functions of CONTENT, so the corpus first collapses to
  * unique texts with multiplicities, training counts are
  * multiplicity-weighted sums, each unique text is scored once, and
  * documents inherit their text's score through one equality join.
  * Every shuffle and join after the initial collapse is keyed on the
  * 64-bit `xxhash64` of the text, NOT the text itself: the exploded
  * bigram stream (the widest frame in the plan — one row per bigram
  * OCCURRENCE) carries an 8-byte key instead of the full document
  * bytes, and the score fan-out join moves 8-byte keys where the
  * raw-text form re-shuffled the whole corpus text a second time.
  * Injectivity in practice follows the [[Dedup]] collision argument
  * (~n²/2^65 for distinct texts); [[hashCollisions]] is the
  * audit-in-plan, the raw-text oracle would surface a collision at
  * the gate, and PropertySpec pins the hashed plan against an
  * independent by-text simulation on random duplicated corpora.
  * A 100×-replicated web corpus costs bigram work proportional to
  * UNIQUE content (measured: the direct form scaled ~6×/decade at
  * sf10 on the replicated frame; the collapsed form follows unique
  * bytes). Bigrams build narrowly per row with `zip_with` over two
  * `slice`s (no positional self-join); training is two
  * map-side-combined hash aggregations; scoring joins the unique-text
  * occurrence stream to the two count tables on their natural keys —
  * vocabulary-bounded equi-joins, nothing broadcast except the 1-row
  * stats frame.
  */
object LangModel {

  private val Scale = 1000000L

  /** The exploded per-occurrence bigram stream over `src`:
    * (k, w, w1, w2) — one row per ADJACENT token pair occurrence of
    * each row's text, carrying the row's key and weight. Rows with
    * fewer than two tokens contribute nothing (a bigram model has no
    * evidence on them either way).
    */
  private def bigramsOf(src: DataFrame, keyCol: String, textCol: String,
      w: Column): DataFrame =
    src.select(col(keyCol).as("k"), w.as("w"),
        split(col(textCol), " ").as("toks"))
      .select($"k", $"w",
        explode(zip_with(
          slice($"toks", lit(1), greatest(size($"toks") - 1, lit(0))),
          slice($"toks", lit(2), greatest(size($"toks") - 1, lit(0))),
          (x, y) => struct(x.as("w1"), y.as("w2")))).as("bi"))
      .select($"k", $"w", $"bi.w1", $"bi.w2")

  /** Unique texts with multiplicities: (kh, txt, nc), keyed by the
    * 64-bit content hash. The collapse shuffle carries each distinct
    * text once per upstream partition (partial aggregate); everything
    * DOWNSTREAM keys on the 8-byte `kh`. `first(txt)` is
    * value-deterministic absent a collision (group members are
    * byte-identical), and a collision is auditable via
    * [[hashCollisions]] / surfaced by the raw-text oracle.
    */
  private def collapse(docs: DataFrame, textCol: String): DataFrame =
    docs.groupBy(xxhash64(col(textCol)).as("kh"))
      .agg(first(col(textCol)).as("txt"), count(lit(1)).as("nc"))

  /** AUDIT: content-hash groups holding >1 distinct text — the
    * collision witness for the hashed collapse (the [[Dedup]]
    * posture made queryable). Empty on every real corpus
    * (~n²/2^65); a production pipeline runs it alongside the first
    * ingest of a new corpus, pinned in PipelineOpsSpec.
    */
  def hashCollisions(docs: DataFrame, textCol: String): DataFrame =
    docs.groupBy(xxhash64(col(textCol)).as("kh"))
      .agg(countDistinct(col(textCol)).as("n_txt"))
      .filter($"n_txt" > 1)

  /** Per-unique-text (k, n_bigrams, surprise_fp) with the overflow
    * guard applied (see object scaladoc): the aggregate tracks
    * `max(term_fp)` and any row it emits is proven un-wrapped —
    * PROVIDED every term_fp is itself certified un-wrapped, which
    * each scorer's term expression does in-plan with a double-
    * arithmetic pre-check (add-one in [[bigramSurprisal]], backoff in
    * [[backoffScoreWith]], KN in [[knScoreWith]]). Without the
    * per-term certificates a wrapped-negative term among large
    * positives could satisfy both conditions here.
    */
  private def guardedPerText(terms: DataFrame,
      nName: String = "n_bigrams"): DataFrame =
    terms
      .groupBy($"k")
      .agg(count(lit(1)).as(nName),
        sum($"term_fp").as("surprise_fp"),
        max($"term_fp").as("mx"))
      .select($"k", col(nName),
        expr(
          s"""CASE WHEN surprise_fp >= mx
            |       AND CAST($nName AS DOUBLE) * CAST(mx AS DOUBLE) < 1.8e19
            |  THEN surprise_fp
            |  ELSE raise_error('LM surprisal int64 overflow: drop SCALE a decade (doc terms x max term exceeds the certified bound)')
            |END""".stripMargin).as("surprise_fp"))

  /** Per-document bigram surprisal under the corpus-trained add-one
    * model: (doc_id, n_bigrams, surprise_fp, avg_surprise_fp), with
    * `surprise_fp = Σ_occurrences SCALE·(c(w1·)+V) div (c(w1w2)+1)`
    * and the average its integer division by the occurrence count.
    * `c(w1·)` is the continuation count (bigrams starting w1 — the
    * exact MLE denominator) and V the corpus-wide distinct token
    * count, so smoothed probabilities sum to 1 per context.
    */
  def bigramSurprisal(docs: DataFrame, idCol: String,
      textCol: String): DataFrame = {
    val groups = collapse(docs, textCol)
    val bi = bigramsOf(groups, "kh", "txt", $"nc")
    // corpus counts = multiplicity-weighted sums over unique texts
    val c12 = bi.groupBy($"w1", $"w2").agg(sum($"w").as("c12"))
    val c1 = bi.groupBy($"w1").agg(sum($"w").as("c1"))
    // corpus vocabulary over ALL token occurrences (not just bigram
    // firsts): the add-one mass covers every token the corpus knows;
    // distinctness ignores multiplicity, so unique texts suffice
    val vocab = groups.select(explode(split($"txt", " ")).as("t"))
      .agg(countDistinct($"t").as("v"))
    val perText = guardedPerText(bi
      .join(c12, Seq("w1", "w2"))
      .join(c1, Seq("w1"))
      .crossJoin(broadcast(vocab))
      .select($"k",
        // per-term certification (the KN pattern): the double-
        // arithmetic pre-check proves the int64 product can't wrap,
        // so guardedPerText's max(term_fp) really does witness every
        // term — without it a wrapped-NEGATIVE term among large
        // positives could slip under both sum-level guard conditions
        expr(
          s"""CASE WHEN CAST(${Scale}L AS DOUBLE) * (CAST(c1 AS DOUBLE) + CAST(v AS DOUBLE)) >= 9.0e18
             |  THEN raise_error('LM add-one term int64 overflow: drop SCALE a decade (c1 + V exceeds the certified bound)')
             |ELSE (${Scale}L * (c1 + v)) div (c12 + 1)
             |END""".stripMargin).as("term_fp")))
    docs.select(col(idCol).as("doc_id"), xxhash64(col(textCol)).as("k"))
      .join(perText, Seq("k"))
      .select($"doc_id", $"n_bigrams", $"surprise_fp",
        expr("surprise_fp div n_bigrams").as("avg_surprise_fp"))
  }

  /** Stupid-backoff scoring (Brants et al. 2007 — the LM smoothing
    * built FOR web-scale counts: no discount fitting, just back off
    * to the lower order with a fixed α = 0.4) of a held-out document
    * set under a model trained on a DIFFERENT corpus slice — the real
    * deployment shape of a perplexity filter, and the one where the
    * backoff path is actually live (scoring the training corpus on
    * itself never sees an unseen bigram; a held-out slice does).
    *
    * Per bigram occurrence, in exact int64 fixed point (inverse
    * probability, the [[bigramSurprisal]] posture):
    *   - seen bigram:  `SCALE · c(w1·) div c(w1 w2)`   (1/p, p = MLE)
    *   - unseen:       `SCALE · 5·(T + V) div (2·(c(w2)+1))`
    *     (1/(α·p_uni), α = 0.4 = 2/5 kept rational, p_uni add-one
    *     smoothed so even unseen WORDS score finitely)
    * `T` = training token occurrences, `V` = training vocabulary.
    * The per-term bound is `SCALE·5·(T+V)/2`; the per-DOCUMENT sum
    * is explicitly overflow-guarded (object scaladoc) rather than
    * trusted to a token-count rule of thumb.
    *
    * Scale shape: both sides collapse to unique texts (training
    * counts weighted by multiplicity, scored texts scored once and
    * fanned back out through an 8-byte content-hash key); three
    * shuffle equi-joins of the unique scored occurrence stream
    * against vocabulary-bounded count tables (LEFT joins — misses
    * ARE the signal), one broadcast 1-row stats frame.
    */
  def stupidBackoffSurprisal(train: DataFrame, score: DataFrame,
      idCol: String, textCol: String): DataFrame = {
    val (c12, c1, cw) = countsOf(train, textCol)
    backoffScoreWith(c12, c1, cw, score, idCol, textCol)
  }

  /** The three count tables of a bigram backoff model over `docs`,
    * collapse-first and multiplicity-weighted: c12 (w1, w2, c12),
    * c1 (w1, c1), cw (w2, cw — unigram occurrence counts over ALL
    * positions; its key set IS the vocabulary, so `T = Σcw` and
    * `V = |cw|` derive from it and need no separate stats table).
    */
  private def countsOf(docs: DataFrame,
      textCol: String): (DataFrame, DataFrame, DataFrame) = {
    val g = collapse(docs, textCol)
    val bi = bigramsOf(g, "kh", "txt", $"nc")
    val c12 = bi.groupBy($"w1", $"w2").agg(sum($"w").as("c12"))
    val c1 = bi.groupBy($"w1").agg(sum($"w").as("c1"))
    val cw = g.select($"nc", explode(split($"txt", " ")).as("t"))
      .groupBy($"t").agg(sum($"nc").as("cw"))
      .select($"t".as("w2"), $"cw")
    (c12, c1, cw)
  }

  /** Stupid-backoff scoring against EXPLICIT count frames — shared by
    * the in-memory path and the persisted incremental model. `T` and
    * `V` derive from cw (see [[countsOf]]); the scored side collapses
    * to unique texts and fans back out by content hash.
    */
  private def backoffScoreWith(c12: DataFrame, c1: DataFrame,
      cw: DataFrame, score: DataFrame, idCol: String,
      textCol: String): DataFrame = {
    val stats = cw.agg(sum($"cw").as("tt"), count(lit(1)).as("v"))
    val scoreG = collapse(score, textCol)
    val perText = guardedPerText(bigramsOf(scoreG, "kh", "txt", $"nc")
      .join(c12, Seq("w1", "w2"), "left")
      .join(c1, Seq("w1"), "left")
      .join(cw, Seq("w2"), "left")
      .crossJoin(broadcast(stats))
      .select($"k", expr(
        // per-term certification on BOTH branches (the KN pattern —
        // see bigramSurprisal): proves each int64 product un-wrapped
        // so the sum-level guard's max(term_fp) witness is sound
        s"""CASE WHEN c12 IS NOT NULL THEN
           |  CASE WHEN CAST(${Scale}L AS DOUBLE) * CAST(c1 AS DOUBLE) >= 9.0e18
           |    THEN raise_error('LM backoff term int64 overflow: drop SCALE a decade (c1 exceeds the certified bound)')
           |  ELSE (${Scale}L * c1) div c12 END
           |ELSE
           |  CASE WHEN CAST(${Scale}L AS DOUBLE) * 5.0 * (CAST(tt AS DOUBLE) + CAST(v AS DOUBLE)) >= 9.0e18
           |    THEN raise_error('LM backoff term int64 overflow: drop SCALE a decade (T + V exceeds the certified bound)')
           |  ELSE (${Scale}L * 5L * (tt + v)) div (2L * (coalesce(cw, 0L) + 1L)) END
           |END""".stripMargin).as("term_fp")))
    score.select(col(idCol).as("doc_id"), xxhash64(col(textCol)).as("k"))
      .join(perText, Seq("k"))
      .select($"doc_id", $"n_bigrams", $"surprise_fp",
        expr("surprise_fp div n_bigrams").as("avg_surprise_fp"))
  }

  /** Interpolated Kneser–Ney bigram scoring (Kneser & Ney 1995; Chen &
    * Goodman 1998 — the empirically strongest count-based bigram
    * smoothing) of a held-out slice under a model trained on the rest,
    * in EXACT int64 fixed point. The discount is kept RATIONAL —
    * d = 3/4, the Chen–Goodman ballpark — and the continuation
    * distribution is add-one smoothed, which yields a closed rational
    * form AND exact normalization:
    *
    *   P(w2|w1) = [max(c12 − 3/4, 0) + (3/4)·N1+(w1·)·(N1+(·w2)+1)/(B+V)] / c1
    *
    * where N1+(w1·) = distinct continuations of w1, N1+(·w2) =
    * distinct contexts of w2, B = distinct bigram TYPES, V =
    * vocabulary. Σ_w2∈vocab (N1+(·w2)+1) = B + V exactly, so the
    * smoothed conditional sums to EXACTLY 1 over the training
    * vocabulary — the add-one continuation doesn't just avoid zeros,
    * it preserves KN's normalization as an integer identity.
    * Multiplying through by 4(B+V) gives the all-integer per-term
    * inverse probability this engine scores with
    * (the [[bigramSurprisal]] posture — monotone in surprisal,
    * bit-deterministic, oracle-exact):
    *
    *   seen ctx:  SCALE·4·c1·(B+V) div (max(4·c12−3,0)·(B+V) + 3·N1p·(N1c+1))
    *   unseen:    SCALE·(B+V) div (N1c+1)      — pure continuation unigram,
    *                                             KN's own lower-order distribution
    *
    * Overflow posture: the seen-context numerator carries c1·(B+V),
    * a product of two corpus-sized counts — certified IN-PLAN (double
    * arithmetic, raise_error with advice) before the int64 multiply
    * runs, the [[guardedPerText]] philosophy applied to the term
    * itself; the per-document sum then goes through the same guarded
    * aggregate as the other scorers.
    *
    * Scale shape: identical to [[stupidBackoffSurprisal]] — both sides
    * collapse to unique texts by content hash, count tables are
    * vocabulary-bounded (c12/c1+N1p/N1c all derive from ONE c12
    * aggregation — N-counts are row counts of it), three LEFT
    * equi-joins of the unique scored occurrence stream, one broadcast
    * 1-row stats frame.
    */
  def kneserNeySurprisal(train: DataFrame, score: DataFrame,
      idCol: String, textCol: String): DataFrame = {
    val (c12, _, cw) = countsOf(train, textCol)
    knScoreWith(c12, cw, score, idCol, textCol)
  }

  /** KN scoring against EXPLICIT count frames — shared by the
    * in-memory path and the persisted incremental model. EVERY KN
    * statistic derives from the two tables the persisted LM already
    * stores: c1/N1+(w1·) are the by-w1 sum/row-count of c12,
    * N1+(·w2) the by-w2 row count, B = |c12|, V = |cw| — so the
    * additive c12/cw segments that make stupid backoff
    * incremental-exact make KN incremental-exact too, with zero new
    * storage machinery (the q211 contract).
    */
  private def knScoreWith(c12: DataFrame, cw: DataFrame,
      score: DataFrame, idCol: String, textCol: String): DataFrame = {
    // c1 (MLE denominator) and N1+(w1·) ride one aggregation of c12
    val c1n = c12.groupBy($"w1")
      .agg(sum($"c12").as("c1"), count(lit(1)).as("n1p"))
    val n1c = c12.groupBy($"w2").agg(count(lit(1)).as("n1c"))
    val stats = c12.agg(count(lit(1)).as("b"))
      .crossJoin(cw.agg(count(lit(1)).as("v")))
    val scoreG = collapse(score, textCol)
    val perText = guardedPerText(bigramsOf(scoreG, "kh", "txt", $"nc")
      .join(c12, Seq("w1", "w2"), "left")
      .join(c1n, Seq("w1"), "left")
      .join(n1c, Seq("w2"), "left")
      .crossJoin(broadcast(stats))
      .select($"k", expr(
        s"""CASE
           |WHEN CAST(${Scale}L AS DOUBLE) * 4.0 * coalesce(c1, 1L) * (b + v) >= 9.0e18
           |     OR 4.0 * coalesce(c12, 0L) * (b + v)
           |        + 3.0 * coalesce(n1p, 0L) * (coalesce(n1c, 0L) + 1L) >= 9.0e18
           |  THEN raise_error('KN surprisal int64 overflow: drop SCALE a decade (c1 x bigram types exceeds the certified bound)')
           |WHEN c1 IS NOT NULL THEN
           |  (${Scale}L * 4L * c1 * (b + v)) div
           |  (greatest(4L * coalesce(c12, 0L) - 3L, 0L) * (b + v)
           |   + 3L * n1p * (coalesce(n1c, 0L) + 1L))
           |ELSE (${Scale}L * (b + v)) div (coalesce(n1c, 0L) + 1L)
           |END""".stripMargin).as("term_fp")))
    score.select(col(idCol).as("doc_id"), xxhash64(col(textCol)).as("k"))
      .join(perText, Seq("k"))
      .select($"doc_id", $"n_bigrams", $"surprise_fp",
        expr("surprise_fp div n_bigrams").as("avg_surprise_fp"))
  }

  /** PERSISTED INCREMENTAL LM — the property that makes a count-based
    * LM the friendliest index in the whole streaming matrix: counts
    * are ADDITIVE, so "training" on a new batch is appending that
    * batch's count rows and "the model" is the by-key SUM of all
    * segments. No frozen stats, no frozen codebooks, no first-batch
    * special case — incremental ≡ batch retrain EXACTLY (value-exact,
    * not recall-bounded), which is why the q204 gate can hold the
    * q200 oracle verbatim against a model built batch-by-batch.
    *
    * Layout: `dir/{c12,c1,cw}` parquet segment files; a probe merges
    * segments with three map-side-combined sums. Segment count grows
    * with batch count — [[compactLmCounts]] is the bound (the
    * compactIvfIndex contract: probe-identical before/after).
    */
  def appendLmCounts(spark: org.apache.spark.sql.SparkSession,
      delta: DataFrame, textCol: String, dir: String,
      stagingPath: Option[String] = None): Unit = {
    val (c12, c1, cw) = countsOf(delta, textCol)
    val (root, mode) = IndexMaintenance.writeTarget(dir, stagingPath)
    // three disjoint sub-tables → three CONCURRENT jobs (ParJobs):
    // at micro-batch scale the three job-launch/commit floors were
    // the appender's wall time
    ParJobs.run(
      () => c12.write.mode(mode).parquet(s"$root/c12"),
      () => c1.write.mode(mode).parquet(s"$root/c1"),
      () => cw.write.mode(mode).parquet(s"$root/cw"))
  }

  /** The merged (c12, c1, cw) of a persisted model directory. */
  private def lmCounts(spark: org.apache.spark.sql.SparkSession,
      dir: String): (DataFrame, DataFrame, DataFrame) = {
    // footer schemas (TinyParquet.read): the per-score/probe inference
    // job was a measured slice of the gate wall
    (TinyParquet.read(spark, s"$dir/c12")
       .groupBy($"w1", $"w2").agg(sum($"c12").as("c12")),
     TinyParquet.read(spark, s"$dir/c1")
       .groupBy($"w1").agg(sum($"c1").as("c1")),
     TinyParquet.read(spark, s"$dir/cw")
       .groupBy($"w2").agg(sum($"cw").as("cw")))
  }

  /** Stupid-backoff scoring from the persisted tables alone. */
  def scoreLmIndexed(spark: org.apache.spark.sql.SparkSession,
      dir: String, score: DataFrame, idCol: String,
      textCol: String): DataFrame = {
    val (c12, c1, cw) = lmCounts(spark, dir)
    backoffScoreWith(c12, c1, cw, score, idCol, textCol)
  }

  /** Kneser–Ney scoring from the persisted tables alone — the SAME
    * segment directory [[appendLmCounts]] maintains for stupid
    * backoff serves KN with no extra state: the N-counts are row
    * counts of the MERGED c12 (type counts must be computed after the
    * by-key sum — a type seen in two batches is ONE type), so
    * incremental == one-shot [[kneserNeySurprisal]] value-exactly.
    */
  def scoreKnIndexed(spark: org.apache.spark.sql.SparkSession,
      dir: String, score: DataFrame, idCol: String,
      textCol: String): DataFrame = {
    val (c12, _, cw) = lmCounts(spark, dir)
    knScoreWith(c12, cw, score, idCol, textCol)
  }

  /** Compact a persisted LM directory's count segments down to one
    * merged segment per table — the [[Similarity.compactIvfIndex]]
    * contract for the additive-counts index: counts are by-key sums,
    * so replacing N segment files with their merged sum is
    * PROBE-IDENTICAL (bit-exact, [[lmCounts]] merges either way) while
    * probe cost and file count stop growing with batch count. The
    * swap is [[IndexMaintenance.compactTables]]'s.
    */
  def compactLmCounts(spark: org.apache.spark.sql.SparkSession,
      dir: String): Unit =
    IndexMaintenance.compactTables(spark, dir, Seq(
      "c12" -> (() => lmCounts(spark, dir)._1),
      "c1" -> (() => lmCounts(spark, dir)._2),
      "cw" -> (() => lmCounts(spark, dir)._3)))

  // ------------------------------------------------------------------
  // Order-3: interpolated Kneser–Ney over trigrams — the form
  // CCNet/KenLM-style quality filtering actually deploys.
  // ------------------------------------------------------------------

  /** The exploded per-occurrence TRIGRAM stream over `src`:
    * (k, w, w1, w2, w3) — one row per adjacent token triple of each
    * row's text. Rows with fewer than three tokens contribute nothing
    * (the [[bigramsOf]] convention one order up).
    */
  private def trigramsOf(src: DataFrame, keyCol: String, textCol: String,
      w: Column): DataFrame =
    src.select(col(keyCol).as("k"), w.as("w"),
        split(col(textCol), " ").as("toks"))
      .select($"k", $"w",
        explode(zip_with(
          zip_with(
            slice($"toks", lit(1), greatest(size($"toks") - 2, lit(0))),
            slice($"toks", lit(2), greatest(size($"toks") - 2, lit(0))),
            (x, y) => struct(x.as("w1"), y.as("w2"))),
          slice($"toks", lit(3), greatest(size($"toks") - 2, lit(0))),
          (p, z) => struct(p("w1").as("w1"), p("w2").as("w2"),
            z.as("w3")))).as("tri"))
      .select($"k", $"w", $"tri.w1", $"tri.w2", $"tri.w3")

  /** The two count tables of an order-3 KN model over `docs`,
    * collapse-first and multiplicity-weighted: c123 (w1, w2, w3,
    * c123) trigram occurrence counts and cw (w2, cw) unigram
    * occurrence counts (its key set IS the vocabulary, exactly the
    * bigram family's cw). EVERY other KN-3 statistic — context counts
    * c(w1w2·)/N1+(w1w2·), the continuation bigram table N1+(·w2w3),
    * the middle-type counts N1+(·w2·)/N1+(w2·), the continuation
    * unigram N1+(··w3), B2, V — is a sum or row count over the MERGED
    * c123/cw, which is what makes the persisted incremental twin
    * value-exact with zero new state ([[scoreKn3Indexed]]).
    */
  private def counts3Of(docs: DataFrame,
      textCol: String): (DataFrame, DataFrame) = {
    val g = collapse(docs, textCol)
    val tri = trigramsOf(g, "kh", "txt", $"nc")
    val c123 = tri.groupBy($"w1", $"w2", $"w3").agg(sum($"w").as("c123"))
    val cw = g.select($"nc", explode(split($"txt", " ")).as("t"))
      .groupBy($"t").agg(sum($"nc").as("cw"))
      .select($"t".as("w2"), $"cw")
    (c123, cw)
  }

  /** Interpolated Kneser–Ney TRIGRAM scoring (Chen & Goodman 1998,
    * order 3) of a held-out slice under a model trained on the rest,
    * in EXACT int64 fixed point — the [[kneserNeySurprisal]]
    * derivation one order up, with the same rational discount
    * d = 3/4 at BOTH backoff levels and the same add-one continuation
    * unigram. Multiplying the three-level interpolation through by
    * its denominators gives the all-integer per-occurrence inverse
    * probability:
    *
    *   seen ctx (c(w1w2·) > 0):
    *     SCALE·16·c(w1w2·)·N1+(·w2·)·(B2+V) div
    *       ( max(4·c123−3,0)·4·N1+(·w2·)·(B2+V)
    *         + 3·N1+(w1w2·)·( max(4·N1+(·w2w3)−3,0)·(B2+V)
    *                          + 3·N1+(w2·)·(N1+(··w3)+1) ) )
    *   unseen ctx, seen middle (N1+(·w2·) > 0): the pure
    *     continuation-bigram distribution —
    *     SCALE·4·N1+(·w2·)·(B2+V) div
    *       ( max(4·N1+(·w2w3)−3,0)·(B2+V) + 3·N1+(w2·)·(N1+(··w3)+1) )
    *   unseen middle: the continuation unigram —
    *     SCALE·(B2+V) div (N1+(··w3)+1)
    *
    * where B2 = |{(w2,w3) trigram-interior types}| and V = |vocab|.
    * Normalization survives the multiply-through as an integer
    * identity at every level (Σ max(4c−3,0)/4 telescopes against the
    * 3/4·N1+ mass, exactly the bigram proof): each conditional sums
    * to EXACTLY 1 over the training vocabulary.
    *
    * Overflow posture: the seen-context numerator is a product of
    * THREE corpus-sized counts, so order 3 reaches its certified int64
    * bound earlier than order 2 — each branch carries an in-plan
    * double-arithmetic certificate (raise_error advising a SCALE
    * decade drop) sized so that a passing numerator bounds every
    * denominator term too (den ≤ 37·num/SCALE/16, proven in the
    * Scaladoc bound N1+(w1w2·) ≤ c(w1w2·), N1+(·w2w3) ≤ N1+(·w2·),
    * N1+(w2·) ≤ N1+(·w2·)); the per-document sum then goes through
    * [[guardedPerText]] like every scorer in the family.
    *
    * Scale shape: identical to the bigram family — both sides
    * collapse to unique texts by content hash, five LEFT equi-joins of
    * the unique scored trigram stream against vocabulary-bounded
    * count tables, one broadcast 1-row stats frame.
    */
  def kneserNey3Surprisal(train: DataFrame, score: DataFrame,
      idCol: String, textCol: String): DataFrame = {
    val (c123, cw) = counts3Of(train, textCol)
    kn3ScoreWith(c123, cw, score, idCol, textCol)
  }

  /** KN-3 scoring against EXPLICIT count frames — shared by the
    * in-memory path and the persisted incremental model (the
    * [[knScoreWith]] contract one order up): every statistic derives
    * from the merged c123/cw, types counted AFTER the by-key sum.
    */
  private def kn3ScoreWith(c123: DataFrame, cw: DataFrame,
      score: DataFrame, idCol: String, textCol: String): DataFrame = {
    // context count + N1+(w1w2·) ride one aggregation of c123; the
    // continuation-bigram table t23 = N1+(·w2w3) is its (w2,w3) row
    // count, and the middle/unigram stats cascade off t23
    val ctx = c123.groupBy($"w1", $"w2")
      .agg(sum($"c123").as("c12ctx"), count(lit(1)).as("n3p"))
    val t23 = c123.groupBy($"w2", $"w3").agg(count(lit(1)).as("t23"))
    val mid = t23.groupBy($"w2")
      .agg(sum($"t23").as("tmid"), count(lit(1)).as("n2p"))
    val n1cT = t23.groupBy($"w3").agg(count(lit(1)).as("n1c"))
    val stats = t23.agg(count(lit(1)).as("b2"))
      .crossJoin(cw.agg(count(lit(1)).as("v")))
    val scoreG = collapse(score, textCol)
    val perText = guardedPerText(trigramsOf(scoreG, "kh", "txt", $"nc")
      .join(c123, Seq("w1", "w2", "w3"), "left")
      .join(ctx, Seq("w1", "w2"), "left")
      .join(t23, Seq("w2", "w3"), "left")
      .join(mid, Seq("w2"), "left")
      .join(n1cT, Seq("w3"), "left")
      .crossJoin(broadcast(stats))
      .select($"k", expr(
        s"""CASE
           |WHEN c12ctx IS NOT NULL THEN
           |  CASE WHEN 1.6e7 * CAST(c12ctx AS DOUBLE) * CAST(tmid AS DOUBLE) * (CAST(b2 AS DOUBLE) + CAST(v AS DOUBLE)) >= 9.0e18
           |    THEN raise_error('KN3 surprisal int64 overflow: drop SCALE a decade (context x middle-type x type counts exceed the certified bound)')
           |  ELSE
           |    (${Scale}L * 16L * c12ctx * tmid * (b2 + v)) div
           |    (greatest(4L * coalesce(c123, 0L) - 3L, 0L) * 4L * tmid * (b2 + v)
           |     + 3L * n3p * (greatest(4L * coalesce(t23, 0L) - 3L, 0L) * (b2 + v)
           |                   + 3L * n2p * (coalesce(n1c, 0L) + 1L)))
           |  END
           |WHEN tmid IS NOT NULL THEN
           |  CASE WHEN 4.0e6 * CAST(tmid AS DOUBLE) * (CAST(b2 AS DOUBLE) + CAST(v AS DOUBLE)) >= 9.0e18
           |    THEN raise_error('KN3 surprisal int64 overflow: drop SCALE a decade (middle-type x type counts exceed the certified bound)')
           |  ELSE
           |    (${Scale}L * 4L * tmid * (b2 + v)) div
           |    (greatest(4L * coalesce(t23, 0L) - 3L, 0L) * (b2 + v)
           |     + 3L * n2p * (coalesce(n1c, 0L) + 1L))
           |  END
           |ELSE
           |  CASE WHEN 1.0e6 * (CAST(b2 AS DOUBLE) + CAST(v AS DOUBLE)) >= 9.0e18
           |    THEN raise_error('KN3 surprisal int64 overflow: drop SCALE a decade (type counts exceed the certified bound)')
           |  ELSE (${Scale}L * (b2 + v)) div (coalesce(n1c, 0L) + 1L)
           |  END
           |END""".stripMargin).as("term_fp")), nName = "n_trigrams")
    score.select(col(idCol).as("doc_id"), xxhash64(col(textCol)).as("k"))
      .join(perText, Seq("k"))
      .select($"doc_id", $"n_trigrams", $"surprise_fp",
        expr("surprise_fp div n_trigrams").as("avg_surprise_fp"))
  }

  /** Append one delta of order-3 counts to a persisted KN-3 model
    * directory (`dir/{c123,cw}` parquet segments — the
    * [[appendLmCounts]] contract): counts are ADDITIVE, so the
    * batch-fed model scores EXACTLY like one trained on the union.
    */
  def appendLm3Counts(spark: org.apache.spark.sql.SparkSession,
      delta: DataFrame, textCol: String, dir: String,
      stagingPath: Option[String] = None): Unit = {
    val (c123, cw) = counts3Of(delta, textCol)
    val (root, mode) = IndexMaintenance.writeTarget(dir, stagingPath)
    // two disjoint sub-tables → two CONCURRENT jobs (the appendLmCounts
    // ParJobs rationale: at micro-batch scale the serial job-launch +
    // parquet-commit floors were the appender's wall time)
    ParJobs.run(
      () => c123.write.mode(mode).parquet(s"$root/c123"),
      () => cw.write.mode(mode).parquet(s"$root/cw"))
  }

  /** Append ONLY the trigram table of an order-3 delta — the
    * composed-dashboard form of [[appendLm3Counts]]: the dashboard's
    * bigram leg already maintains `cw`, and the trigram `cw` is the
    * SAME frame (both are multiplicity-weighted unigram occurrence
    * counts over the collapsed texts, compare [[countsOf]] /
    * [[counts3Of]]), so composing order 3 into the dashboard adds one
    * sub-table, not two — [[scoreKn3Indexed]] then reads the shared
    * `cw` unchanged.
    */
  def appendTrigramCounts(spark: org.apache.spark.sql.SparkSession,
      delta: DataFrame, textCol: String, dir: String,
      stagingPath: Option[String] = None): Unit = {
    val (c123, _) = counts3Of(delta, textCol)
    val (root, mode) = IndexMaintenance.writeTarget(dir, stagingPath)
    c123.write.mode(mode).parquet(s"$root/c123")
  }

  /** The merged (c123, cw) of a persisted KN-3 model directory. */
  private def lm3Counts(spark: org.apache.spark.sql.SparkSession,
      dir: String): (DataFrame, DataFrame) =
    (TinyParquet.read(spark, s"$dir/c123")
       .groupBy($"w1", $"w2", $"w3").agg(sum($"c123").as("c123")),
     TinyParquet.read(spark, s"$dir/cw")
       .groupBy($"w2").agg(sum($"cw").as("cw")))

  /** KN-3 scoring from the persisted tables alone — every statistic
    * derives from merged c123/cw (types counted after the by-key
    * sum), so incremental == one-shot [[kneserNey3Surprisal]]
    * value-exactly.
    */
  def scoreKn3Indexed(spark: org.apache.spark.sql.SparkSession,
      dir: String, score: DataFrame, idCol: String,
      textCol: String): DataFrame = {
    val (c123, cw) = lm3Counts(spark, dir)
    kn3ScoreWith(c123, cw, score, idCol, textCol)
  }

  /** Compact a persisted KN-3 directory's count segments — the
    * [[compactLmCounts]] contract (probe-identical, staged swap,
    * unlogged-delta sweep) over the order-3 layout.
    */
  def compactLm3Counts(spark: org.apache.spark.sql.SparkSession,
      dir: String): Unit =
    IndexMaintenance.compactTables(spark, dir, Seq(
      "c123" -> (() => lm3Counts(spark, dir)._1),
      "cw" -> (() => lm3Counts(spark, dir)._2)))
}
