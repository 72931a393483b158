package graft.operators

import graft.functions.TextFunctions
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.syntax._

/** End-to-end corpus curation funnel — the composition a training-data
  * pipeline actually runs (language filter → quality filter → exact
  * dedup → benchmark decontamination), with the per-stage audit counts
  * a production ingest must report (every dropped row accounted to the
  * stage that dropped it).
  *
  * Scale shape: the two filters are map-side (no shuffle); dedup is
  * one content-keyed shuffle (at corpus scale key it by a 64/128-bit
  * content hash so the exchange carries 8-byte keys — here the gate
  * groups by the text itself so the DuckDB oracle can re-derive the
  * stage); decontamination is the [[Dedup.contaminationScan]] inverted
  * n-gram join with the eval side broadcast. The audit counts ride the
  * SAME job as the final stage via `observe()` metrics — ONE pass over
  * the corpus, not one scalar-agg job per stage (5 scans of raw at
  * 100 TB).
  */
object Curation {

  /** The named stage frames, raw-to-final. */
  private def stages(docs: DataFrame, lang: String, n: Int,
      evalMod: Long): Seq[(String, DataFrame)] = {
    val s1 = docs.filter($"lang" === lang)
    val s2 = s1.filter(TextFunctions.isQuality($"text"))
    val s3 = s2.groupBy($"text").agg(min($"doc_id").as("doc_id"))
      .select($"doc_id", $"text")
    val evalSet = docs.filter($"doc_id" % evalMod === 0)
    val contaminated = Dedup.contaminationScan(s3, evalSet, "doc_id", "text", n)
      .select($"doc_id")
    val s4 = s3.join(contaminated, Seq("doc_id"), "left_anti")
    Seq("raw" -> docs, "lang" -> s1, "quality" -> s2,
      "dedup" -> s3, "decontaminated" -> s4)
  }

  /** The surviving documents after all four stages. */
  def curate(docs: DataFrame, lang: String, n: Int = 4,
      evalMod: Long = 97L): DataFrame =
    stages(docs, lang, n, evalMod).last._2

  /** Leakage-safe train/validation split: near-duplicate documents
    * must land on the SAME side, or the held-out set silently overlaps
    * training data through paraphrase-level copies — the internal twin
    * of the external-benchmark decontamination [[Dedup
    * .contaminationScan]] guards. Assignment is per-CLUSTER, not
    * per-document: docs cluster by n-gram-Jaccard connected components
    * ([[Dedup.ngramJaccardPairs]] → [[Dedup.clusterReps]]), singletons
    * are their own cluster, and the side is a DETERMINISTIC modular
    * hash of the cluster representative — reproducible run-to-run,
    * engine-exact for the oracle (no `rand()`), and uniform enough for
    * an 80/20 split because reps are arbitrary doc ids. Returns
    * (doc_id, rep, side) for every input document.
    *
    * Scale shape: clustering runs COLLAPSE-FIRST
    * ([[Dedup.collapsedClusterReps]] — output-identical to the direct
    * q44 pipeline by its oracle): exact-dup groups collapse before the
    * pair join, so a replicated web corpus costs pairs over UNIQUE
    * contents, not d² over copies (the q125-vs-q44 lesson at sf10).
    * Label propagation is the min-label loop whose per-round join is
    * exchange-free; the final assignment is one left join on doc id
    * plus a narrow hash — nothing quadratic or driver-bound.
    */
  def leakageSafeSplit(docs: DataFrame, idCol: String, textCol: String,
      n: Int = 3, threshold: Double = 0.8, trainPct: Int = 80): DataFrame = {
    val reps = Dedup.collapsedClusterReps(docs, idCol, textCol, n, threshold)
    docs.select(col(idCol).as("doc"))
      .join(reps, Seq("doc"), "left")
      .select($"doc".as("doc_id"), coalesce($"cluster_rep", $"doc").as("rep"))
      // LCG-style modular hash, exact in int64 (rep folded below 2^20
      // first so the multiply cannot overflow) — identical arithmetic
      // runs in the DuckDB oracle
      .withColumn("side",
        when((($"rep" % 1000003L) * 1103515245L + 12345L) % 1000L <
            lit(trainPct * 10L), lit("train"))
          .otherwise(lit("valid")))
  }

  /** INCREMENTAL leakage-safe split — [[leakageSafeSplit]] for the
    * everyday shape at 100 TB, where the corpus already carries a
    * standing train/valid assignment and a NEW crawl batch must join
    * it without re-running corpus-wide clustering: each batch
    * document probes the persisted near-dup index
    * ([[Dedup.nearDupBestIndexed]] — candidate generation and the
    * exact verify follow unique content, cost follows the BATCH) and
    *  - a matched document INHERITS the side of its best match
    *    (highest jaccard, ties to the smallest indexed doc id) from
    *    the standing `sides` table — so a paraphrase of training
    *    data cannot land in validation;
    *  - an unmatched document is its own singleton cluster and takes
    *    the SAME deterministic LCG-of-rep side rule as
    *    [[leakageSafeSplit]] (rep = its own id), so batch and
    *    one-shot assignments agree on fresh content.
    * Residual risk, named: a batch document that BRIDGES two standing
    * clusters on different sides takes its best match's side — the
    * standing assignment is never rewritten (append-only contract);
    * a periodic full re-split reconciles bridges.
    * Returns (doc_id, best_b = null for fresh content, side).
    * FAILS (raise_error, job abort) if a matched best_b has no row in
    * `sides` — an out-of-sync index/assignment pair must be repaired,
    * not silently coalesced into the fresh-content rule.
    */
  def incrementalSplitAssign(spark: org.apache.spark.sql.SparkSession,
      idxDir: String, batch: DataFrame, sides: DataFrame,
      idCol: String, textCol: String, threshold: Double = 0.8,
      trainPct: Int = 80): DataFrame = {
    val best = Dedup.nearDupBestIndexed(spark, idxDir, batch,
        idCol, textCol, threshold)
      .select($"a".as("doc_id"), $"best_b")
    batch.select(col(idCol).as("doc_id"))
      .join(best, Seq("doc_id"), "left")
      .join(sides.select($"doc_id".as("best_b"),
        $"side".as("match_side")), Seq("best_b"), "left")
      .select($"doc_id", $"best_b",
        coalesce($"match_side",
          // a MATCHED doc whose best_b has no side means the index
          // and the standing assignment are out of sync — in a
          // leakage-safety operator, silently falling through to the
          // fresh-content rule could place a near-duplicate of
          // training data in validation; refuse instead
          when($"best_b".isNotNull, raise_error(concat(
            lit("incrementalSplitAssign: best match "), $"best_b",
            lit(" of doc "), $"doc_id",
            lit(" has no side in the standing assignment — " +
              "near-dup index and sides table are out of sync")))),
          when((($"doc_id" % 1000003L) * 1103515245L + 12345L) % 1000L <
              lit(trainPct * 10L), lit("train"))
            .otherwise(lit("valid"))).as("side"))
  }

  /** The fresh-content (singleton) rule of [[incrementalSplitAssign]]
    * applied to a whole batch — the bootstrap form for the FIRST batch
    * of a standing split directory, where no index exists yet and
    * every document is its own cluster. Same output schema
    * (doc_id, best_b = null, side) and bit-identical side values to
    * what [[incrementalSplitAssign]] would emit for unmatched docs.
    */
  def leakageSafeSplitSingletons(batch: DataFrame, idCol: String,
      trainPct: Int = 80): DataFrame =
    batch.select(col(idCol).as("doc_id"),
      lit(null).cast("long").as("best_b"),
      when((($"doc_id" % 1000003L) * 1103515245L + 12345L) % 1000L <
          lit(trainPct * 10L), lit("train"))
        .otherwise(lit("valid")).as("side"))

  /** Compact a standing split directory's per-batch `sides` segments
    * to one row per document — the [[IndexMaintenance.compactTables]]
    * swap for the assignment table
    * ([[graft.streaming.StreamingIndex.applySplitBatch]] appends one
    * segment per batch). Each doc is assigned in exactly ONE batch, so
    * the fold is a pass-through grouped by doc (min(struct) makes it
    * deterministic even against a corrupted double-assignment);
    * probes and side inheritance are identical before and after.
    * The near-dup tables in the same dir are
    * [[Dedup.compactNearDupIndex]]'s job — call both for a full
    * directory compaction.
    */
  def compactSplitAssign(spark: org.apache.spark.sql.SparkSession,
      dir: String): Unit = {
    def merged() = spark.read.parquet(s"$dir/sides")
      .groupBy($"doc_id")
      .agg(min(struct($"side", $"best_b")).as("m"))
      .select($"doc_id", $"m.best_b", $"m.side")
    IndexMaintenance.compactTables(spark, dir, Seq("sides" -> (() => merged())))
  }

  /** Stage-by-stage audit counts: (stage, stage_name, n), computed in
    * ONE job. `observe()` checkpoints on the raw→lang→quality→dedup
    * chain feed the left side of the final anti-join; the single
    * `count()` action fires every upstream metric, so the corpus is
    * scanned once instead of once per stage. The contamination branch
    * re-derives the dedup frame WITHOUT observes — a re-referenced
    * CollectMetrics subtree would double-fire its metric (and Spark's
    * physical reuse typically dedupes the repeated exchange anyway).
    * The returned frame is a materialized 5-row local result.
    */
  def funnel(docs: DataFrame, lang: String, n: Int = 4,
      evalMod: Long = 97L): DataFrame = {
    import org.apache.spark.sql.Observation
    val names = Seq("raw", "lang", "quality", "dedup", "decontaminated")
    val obs = names.init.map(nm => nm -> Observation()).toMap

    def dedupStage(d: DataFrame): DataFrame =
      d.filter($"lang" === lang)
        .filter(TextFunctions.isQuality($"text"))
        .groupBy($"text").agg(min($"doc_id").as("doc_id"))
        .select($"doc_id", $"text")

    val docsO = docs.observe(obs("raw"), count(lit(1)).as("n"))
    val s1 = docsO.filter($"lang" === lang)
      .observe(obs("lang"), count(lit(1)).as("n"))
    val s2 = s1.filter(TextFunctions.isQuality($"text"))
      .observe(obs("quality"), count(lit(1)).as("n"))
    val s3 = s2.groupBy($"text").agg(min($"doc_id").as("doc_id"))
      .select($"doc_id", $"text")
      .observe(obs("dedup"), count(lit(1)).as("n"))

    val evalSet = docs.filter($"doc_id" % evalMod === 0)
    val contaminated = Dedup
      .contaminationScan(dedupStage(docs), evalSet, "doc_id", "text", n)
      .select($"doc_id")
    val nDecontaminated = s3.join(contaminated, Seq("doc_id"), "left_anti").count()

    val spark = docs.sparkSession
    import spark.implicits._
    names.zipWithIndex.map { case (nm, i) =>
      val cnt =
        if (nm == "decontaminated") nDecontaminated
        else obs(nm).get("n").asInstanceOf[Long]
      (i.toLong, nm, cnt)
    }.toDF("stage", "stage_name", "n")
  }

  /** The FULL composed funnel as one gated frame — every stage the
    * suite gates individually, chained in production order over one
    * corpus:
    *
    *   quality → exact dedup → near-dup collapse → decontamination
    *   vs the held-out eval slice → split → token-budget packing
    *
    * Each stage runs its SCALE path, and each of those paths is
    * output-identical to an exact form, so the whole funnel
    * (per-stage survivor counts + token mass, and the final pack
    * manifest) is re-derivable by the DuckDB oracle in one
    * WITH RECURSIVE chain:
    *
    *  - near-dup pairs via [[Dedup.minhashDedupPairs]] (banded LSH →
    *    exact verify; equals the exact trigram-jaccard join, miss
    *    probability < 5e-8 per pair at t=0.8, b=32, r=4 — the q32
    *    argument), clustered by [[Dedup.clusterReps]];
    *  - decontamination via [[Dedup.contaminationScanBloom]]
    *    (broadcast Bloom prescreen + exact verify join — no false
    *    negatives, the q93 argument);
    *  - exact dedup groups by 64-bit content hash so the exchange
    *    carries 8-byte keys, not documents;
    *  - split/pack are the q69/q79 integer-arithmetic formulas. The
    *    PER-DOC split is leakage-safe *here* (unlike on a raw corpus,
    *    where [[leakageSafeSplit]]'s cluster rule is required)
    *    because stages 2–3 already removed every exact and near
    *    duplicate: no two surviving documents are near-dups, so no
    *    cluster can straddle the split boundary.
    *
    * Stage order is the production order: quality first (map-side,
    * drops mass before any shuffle), exact dedup before near-dup
    * (removes the d² duplication factor from the LSH buckets by
    * construction — the collapse-first lesson as a pipeline
    * property), decontamination on the smallest surviving set, split
    * before pack (bins must not straddle splits).
    *
    * Output: one narrow manifest frame
    * `(stage, source, bin, n_docs, tok_sum)` — funnel rows carry
    * `source='*', bin=-1`; `6_pack` rows are the per-(source, bin)
    * pack manifest. Everything upstream stays distributed; only the
    * stage aggregates and the (token-mass/budget)-bounded manifest
    * come back.
    *
    * Documents with `doc_id % 97 == 0` are the held-out eval slice
    * (the q66/q93 convention): excluded from the corpus funnel, their
    * distinct 4-grams are the contamination set.
    */
  def curationFunnel(docs0: DataFrame, idCol: String = "doc_id",
      textCol: String = "text", srcCol: String = "source",
      minTokens: Long = 8L, budget: Long = 2000L): DataFrame = {
    import graft.functions.TextFunctions.tokens
    val docs = docs0.select(col(idCol).as("doc_id"),
      col(srcCol).as("source"), col(textCol).as("text"))
    val corpus = docs.filter($"doc_id" % 97 =!= 0)
    val eval = docs.filter($"doc_id" % 97 === 0)

    // stage 1 — quality: token floor + distinct-token ratio >= 0.3
    // (repetition proxy), INTEGER arithmetic so the oracle's
    // predicate is bit-identical (ndis*10 >= ntok*3 <=> ratio >= 0.3)
    val tk = corpus
      .withColumn("ntok", size(tokens($"text")).cast("long"))
      .withColumn("ndis", size(array_distinct(tokens($"text"))).cast("long"))
    val qual = tk.filter($"ntok" >= minTokens && $"ndis" * 10 >= $"ntok" * 3)

    // stage 2 — exact dedup: keep min doc_id per content (hash-keyed
    // groupBy + semi-join; min-ids are unique across groups, so the
    // semi-join on doc_id alone is exact). Checkpointed: the LSH join
    // and four later stages all read the survivor set.
    val keep = qual.groupBy(xxhash64($"text").as("g"))
      .agg(min($"doc_id").as("doc_id"))
      .select($"doc_id")
    val ex = qual.join(keep, Seq("doc_id"), "left_semi").localCheckpoint()

    // stage 3 — near-dup collapse: LSH pairs + connected components;
    // drop every non-representative cluster member
    val pairs = Dedup.minhashDedupPairs(ex, "doc_id", "text",
      n = 3, threshold = 0.8)
    val nonReps = Dedup.clusterReps(pairs)
      .filter($"cluster_rep" =!= $"doc").select($"doc".as("doc_id"))
    val nd = ex.join(nonReps, Seq("doc_id"), "left_anti")

    // stage 4 — decontaminate: drop survivors sharing any 4-gram
    // with the eval slice. Checkpointed: split, pack, and two stage
    // rows read it.
    val dirty = Dedup.contaminationScanBloom(nd, eval, "doc_id", "text",
      n = 4).select($"doc_id")
    val clean = nd.join(dirty, Seq("doc_id"), "left_anti").localCheckpoint()

    // stage 5 — split (q69 formula; see scaladoc for why per-doc is
    // leakage-safe after stages 2-3); train feeds packing
    val tr = Sampling.withSplit(clean, "doc_id").filter($"split" === "train")

    // stage 6 — token-budget packing per source in doc_id order
    val pack = Sampling.packByTokenBudget(
        tr.select($"source", $"doc_id", $"ntok"),
        "source", "doc_id", $"ntok", budget)
      .groupBy($"source", $"bin".cast("long").as("bin"))
      .agg(count(lit(1)).as("n_docs"), sum($"n_tokens").as("tok_sum"))
      .select(lit("6_pack").as("stage"), $"source", $"bin",
        $"n_docs", $"tok_sum")

    def stageRow(name: String, df: DataFrame): DataFrame =
      df.agg(count(lit(1)).as("n_docs"),
          coalesce(sum($"ntok"), lit(0L)).as("tok_sum"))
        .select(lit(name).as("stage"), lit("*").as("source"),
          lit(-1L).as("bin"), $"n_docs", $"tok_sum")

    stageRow("0_corpus", tk)
      .unionAll(stageRow("1_quality", qual))
      .unionAll(stageRow("2_exact", ex))
      .unionAll(stageRow("3_neardup", nd))
      .unionAll(stageRow("4_decontam", clean))
      .unionAll(stageRow("5_train", tr))
      .unionAll(pack)
  }
}
