package graft.operators

import graft.functions.VectorFunctions._
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.syntax._

/** Approximate/exact nearest-neighbor search over an embedding column
  * (`Array[Float]`).
  *
  * - Brute force: query-side broadcast × corpus scan — exact, O(n·q),
  *   the right baseline and the verifier for the approximate paths.
  * - LSH (random hyperplanes): deterministic planes hashed from
  *   (plane, dim) indexes; bucket join bounds the candidate set, the
  *   100 TB scale path. Recall measured against brute force in tests.
  *
  * All cosines use quantized integer vectors ([[graft.functions.VectorFunctions]])
  * so results are bit-deterministic at any parallelism.
  */
object Similarity {

  /** Sentinel for [[lshTopK]]'s `nProbe`: derive the probe count from
    * the effective (corpus-adaptive) plane count — see the lshTopK
    * scaladoc for the measured rule.
    */
  val AutoProbe: Int = -1

  /** Corpus prepared with quantized vectors + norms (do once, reuse). */
  def prepare(df: DataFrame, idCol: String, vecCol: String): DataFrame =
    df.select(col(idCol).as("vid"), quantize(col(vecCol)).as("qv"))
      .withColumn("nrm", normQ($"qv"))

  /** Tile count for the exact tiled joins, from the corpus row count:
    * one tile side ≈ `rowsPerTile` rows (sized so a tile's hash side
    * fits executor memory — ~100k 64-dim quantized vectors ≈ 50 MB),
    * clamped to [32, 4096] so local runs keep parallelism and huge
    * corpora don't explode the tile pairing. Callers that know the
    * count (catalog stats, a prior `count()`) pass it here instead of
    * hand-picking `nBlocks`.
    */
  def blocksFor(corpusRows: Long, rowsPerTile: Long = 100000L): Int =
    math.min(4096L, math.max(32L,
      (corpusRows + rowsPerTile - 1) / rowsPerTile)).toInt

  /** Per-query top-k over a (query_id, cand_id, cos) candidate stream
    * via the bounded [[graft.functions.TopKAgg]] partial aggregate.
    * The `row_number().over(partitionBy(query_id))` idiom this
    * replaces shuffles EVERY candidate row to its query's partition
    * before ranking; the aggregate forwards at most k partial rows per
    * (query, map partition), so shuffle volume is candidate-count
    * independent — the shape that survives a 100× candidate blow-up
    * (hot LSH buckets, wide IVF probes). Ordering contract unchanged:
    * cos desc, id asc.
    */
  private[operators] def rankTopK(scored: DataFrame, k: Int): DataFrame =
    scored.groupBy($"query_id")
      .agg(graft.functions.TopKAgg.topk_by_score($"cos", $"cand_id", k).as("top"))
      .select($"query_id", posexplode($"top"))
      .select($"query_id", ($"pos" + 1).cast("long").as("rank"),
        $"col.id".as("neighbor_id"), $"col.score".as("cos"))

  /** Exact top-k cosine neighbors for each query row (excluding self).
    * `queries` and `corpus` are [[prepare]]d frames; the query side is
    * broadcast (it is the small side by construction).
    */
  def bruteForceTopK(queries: DataFrame, corpus: DataFrame, k: Int): DataFrame = {
    val q = broadcast(queries.select($"vid".as("query_id"), $"qv".as("q_qv"), $"nrm".as("q_nrm")))
    val pairs = q.join(corpus, $"query_id" =!= $"vid")
      .select($"query_id", $"vid".as("cand_id"),
        cosineQ($"q_qv", $"qv", $"q_nrm", $"nrm").as("cos"))
    rankTopK(pairs, k)
  }

  /** SQ8 scalar-quantized top-k — the remaining member of the
    * quantization family (LSH buckets, IVF cells, PQ codebooks, and
    * now per-DIMENSION 8-bit affine codes, the faiss ScalarQuantizer
    * design). Train is ONE corpus pass: per-dimension (min, max) via
    * posexplode + map-side-combined min/max (the shuffle carries
    * dim × partitions rows, not data); the dim-sized stats are
    * bounded driver metadata folded into literal arrays. Encode packs
    * each vector to `array<tinyint>` — one BYTE per dimension, the 4×
    * (vs int) / 8× (vs double) compression that lets the flat scan's
    * working set shrink accordingly at 100 TB. Scoring is asymmetric
    * (uncompressed query against on-the-fly affine reconstruction —
    * the ADC idea without codebooks), shortlists through the bounded
    * TopKAgg, and exact-re-ranks only the shortlist. SQ8 compresses
    * the scan rather than pruning it — compose with IVF cells when
    * pruning is also wanted.
    */
  /** One corpus pass of per-dimension (min, span/255) train stats —
    * dim-sized bounded driver metadata.
    */
  private def sq8Train(corpus: DataFrame): (Array[Double], Array[Double]) = {
    val stats = corpus.select(posexplode($"qv").as(Seq("d", "v")))
      .groupBy($"d").agg(min($"v").as("mn"), max($"v").as("mx"))
      .orderBy($"d").collect()
    (stats.map(_.getLong(1).toDouble),
      stats.map(r => (r.getLong(2) - r.getLong(1)).toDouble / 255.0))
  }

  /** The SQ8-encoded corpus: `(vid, codes array<tinyint>)` — one BYTE
    * per dimension, shifted so code − 128 ∈ [−128, 127]. The
    * persistable artifact a production index stores alongside the
    * dim-sized (min, delta) stats.
    */
  def sq8Encode(corpus: DataFrame): DataFrame = {
    val (mn, dl) = sq8Train(corpus)
    sq8EncodeWith(corpus, mn, dl)
  }

  /** Codes SATURATE at the byte range (the standard scalar-quantizer
    * clamp): training over the full corpus never hits it, but a
    * frozen-stats delta append ([[appendSq8Index]]) may see values
    * outside the trained [min, max] — those clamp to the boundary
    * code instead of overflowing the tinyint cast.
    */
  private def sq8EncodeWith(corpus: DataFrame, mn: Array[Double],
      dl: Array[Double]): DataFrame = {
    val mnA = array(mn.map(lit): _*)
    val dlA = array(dl.map(lit): _*)
    corpus.select($"vid",
      transform($"qv", (v, i) =>
        when(element_at(dlA, i + 1) === 0d, lit(-128))
          .otherwise(least(greatest(
            round((v.cast("double") - element_at(mnA, i + 1)) /
              element_at(dlA, i + 1)) - 128, lit(-128d)), lit(127d)))
          .cast("tinyint")).as("codes"))
  }

  /** Asymmetric SQ8 scan: uncompressed broadcast queries against the
    * on-the-fly affine reconstruction of `enc` (vid, codes) under
    * frozen (mn, dl) stats — shared by the in-memory [[sq8TopK]] and
    * the persisted-index probe [[sq8ProbeIndexed]]. Query norm is a
    * per-query constant, so ranking needs dot / ‖x̂‖ only.
    */
  private def sq8Scan(enc: DataFrame, queries: DataFrame,
      mn: Array[Double], dl: Array[Double]): DataFrame = {
    val mnA = array(mn.map(lit): _*)
    val dlA = array(dl.map(lit): _*)
    val recon = transform($"codes", (c, i) =>
      element_at(mnA, i + 1) +
        (c.cast("double") + 128d) * element_at(dlA, i + 1))
    // reconstruction and its norm are QUERY-INDEPENDENT: compute them
    // once per corpus row BELOW the join, not once per (query, row)
    // pair — Catalyst won't hoist an expression across a join by
    // itself, and at Q queries per batch the per-pair form does Q×
    // the work (measured 37 s → ~8 s on the q194 gate). The per-pair
    // dot itself runs as the codegen'd DDot, not an interpreted HOF
    // lambda (the QDot rationale); queries pre-cast to double once on
    // the broadcast side.
    import graft.functions.DDot.ddot
    import graft.functions.EvalOnce.evalOnce
    // EvalOnce: BOTH computed columns must be pinned to once-per-row —
    // whole-stage codegen splices a pure-codegen projection at its
    // first use site, which for this nested-loop join is inside the
    // per-pair loop (the q196 deferral, graft.functions.EvalOnce
    // scaladoc); rv was accidentally safe as a CodegenFallback HOF,
    // rn (codegen ddot+sqrt) was not
    val rec = enc
      .withColumn("rv", evalOnce(recon))
      .withColumn("rn", evalOnce(sqrt(ddot($"rv", $"rv"))))
    val qd = broadcast(queries.select($"vid".as("q_vid"),
      transform($"qv", _.cast("double")).as("q_dv")))
    rec.join(qd, $"q_vid" =!= $"vid")
      .select($"q_vid".as("query_id"), $"vid".as("cand_id"),
        when($"rn" === 0d, lit(Double.NaN))
          .otherwise(ddot($"q_dv", $"rv") / $"rn").as("cos"))
  }

  def sq8TopK(queries: DataFrame, corpus: DataFrame, topK: Int,
      shortlistFactor: Int = 4): DataFrame = {
    val (mn, dl) = sq8Train(corpus)
    val enc = sq8EncodeWith(corpus, mn, dl)
    Pq.rerankExact(
      rankTopK(sq8Scan(enc, queries, mn, dl), topK * shortlistFactor),
      queries, corpus, topK)
  }

  /** PERSISTED SQ8 index — per-dimension affine stats are statistics
    * you train once (the q116/q147/q148 persisted-index story):
    * `build` trains the dim-sized (min, span/255) stats and writes
    * stats + byte codes + raw vectors (kept for the exact re-rank);
    * `append` encodes a delta against the FROZEN stats (delta-sized
    * writes, no retrain — encoding is a deterministic per-dimension
    * affine map given the stats, so append ≡ encode-union,
    * SimilaritySpec's pin); `probe` folds the stats back into literal
    * arrays and runs the asymmetric compressed scan → exact shortlist
    * re-rank from the persisted tables alone. The byte-codes table is
    * the only corpus-sized scan — 1 byte/dim instead of raw width,
    * which is the entire point at 100 TB.
    */
  def buildSq8Index(corpus: DataFrame, dir: String,
      builtBy: Long = -1L): Unit = {
    val spark = corpus.sparkSession
    val (mn, dl) = sq8Train(corpus)
    // the index owns its quantization layout (the meta principle of
    // buildPqIndex): append and probe read the stats back, so no
    // caller threads them through and a drifted re-train can't
    // silently mis-decode old codes
    // three disjoint sub-tables → concurrent jobs (ParJobs); the
    // build-commit marker stays LAST — ParJobs awaits every write
    ParJobs.run(
      () => spark.createDataFrame(mn.indices.map(i => (i, mn(i), dl(i))))
        .toDF("d", "mn", "dl")
        .write.mode("overwrite").parquet(s"$dir/stats"),
      () => sq8EncodeWith(corpus, mn, dl)
        .write.mode("overwrite").parquet(s"$dir/codes"),
      () => corpus.select($"vid", $"qv", $"nrm")
        .write.mode("overwrite").parquet(s"$dir/vectors"))
    writeBuiltMarker(spark, dir, builtBy)
  }

  /** Build-commit marker protocol (closes the streaming first-batch
    * replay window — see
    * [[graft.streaming.StreamingIndex.applySq8Batch]]): every
    * `build*Index` writes `dir/_built` containing the id of the batch
    * that built it (−1 for the batch API) as its LAST step. A replayed
    * streaming batch then distinguishes the three states a crash can
    * leave: marker absent → the build never committed, re-run the
    * all-overwrite build (converges over any partial output); marker
    * == my batch id → MY build committed but the batchlog marker
    * didn't, nothing to apply; marker != my batch id → a different
    * batch (or the batch API) owns the build, take the append path.
    * Before the marker existed, a crash between build and batchlog
    * sent the replay down the append path and duplicated batch-0 rows
    * (probes could return the same neighbor twice).
    */
  private[graft] def writeBuiltMarker(
      spark: org.apache.spark.sql.SparkSession, dir: String,
      builtBy: Long): Unit = {
    val p = new org.apache.hadoop.fs.Path(s"$dir/_built")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = fs.create(p, true)
    try out.write(builtBy.toString.getBytes("UTF-8")) finally out.close()
  }

  /** The committed-build marker of an index dir, if any (see
    * [[writeBuiltMarker]]).
    */
  private[graft] def readBuiltMarker(
      spark: org.apache.spark.sql.SparkSession,
      dir: String): Option[Long] = {
    val p = new org.apache.hadoop.fs.Path(s"$dir/_built")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      try Some(new String(in.readAllBytes(), "UTF-8").trim.toLong)
      finally in.close()
    }
  }

  /** Read back the dim-sized frozen (min, delta) stats of a persisted
    * SQ8 index — bounded driver metadata, like [[Pq]]'s indexMeta.
    */
  private def sq8IndexStats(spark: org.apache.spark.sql.SparkSession,
      dir: String): (Array[Double], Array[Double]) = {
    // driver-side read (TinyParquet): the dim-sized stats table was a
    // schema-inference pass + collect JOB on every append/probe
    val rows = TinyParquet.rows(
        spark.sparkContext.hadoopConfiguration, s"$dir/stats")
      .sortBy(_.getInteger("d", 0)).toArray
    (rows.map(_.getDouble("mn", 0)), rows.map(_.getDouble("dl", 0)))
  }

  /** Frozen-stats delta append into `codes`/`vectors` under `dir` or
    * `stagingPath` ([[IndexMaintenance.writeTarget]]).
    */
  def appendSq8Index(spark: org.apache.spark.sql.SparkSession,
      delta: DataFrame, dir: String,
      stagingPath: Option[String] = None): Unit = {
    val (mn, dl) = sq8IndexStats(spark, dir)
    val (root, mode) = IndexMaintenance.writeTarget(dir, stagingPath)
    // disjoint sub-tables → concurrent jobs (the appendLmCounts
    // ParJobs rationale: overlap the per-write job floors)
    ParJobs.run(
      () => sq8EncodeWith(delta, mn, dl).write.mode(mode).parquet(s"$root/codes"),
      () => delta.select($"vid", $"qv", $"nrm")
        .write.mode(mode).parquet(s"$root/vectors"))
  }

  def sq8ProbeIndexed(spark: org.apache.spark.sql.SparkSession, dir: String,
      queries: DataFrame, topK: Int, shortlistFactor: Int = 4): DataFrame = {
    val (mn, dl) = sq8IndexStats(spark, dir)
    val enc = TinyParquet.read(spark, s"$dir/codes")
    val vectors = TinyParquet.read(spark, s"$dir/vectors")
    Pq.rerankExact(
      rankTopK(sq8Scan(enc, queries, mn, dl), topK * shortlistFactor),
      queries, vectors, topK)
  }

  /** Compact a persisted SQ8 index's `codes`/`vectors` delta segments
    * down to one rewritten segment each — the [[compactIvfIndex]]
    * contract for the flat byte-code layout (and the twin of
    * [[LangModel.compactLmCounts]]): each streamed batch adds
    * `b<id>_*` files, so a long append history fragments the scan
    * into batch-count-many files; the rewrite is one pass per table,
    * PROBE-IDENTICAL before/after (the probe reads the directories
    * wholesale and the rank aggregate is order-free), and the file
    * count stops growing with batch count. The swap is
    * [[IndexMaintenance.compactTables]]'s.
    */
  def compactSq8Index(spark: org.apache.spark.sql.SparkSession,
      dir: String): Unit = {
    val par = math.max(1, spark.sparkContext.defaultParallelism / 4)
    IndexMaintenance.compactTables(spark, dir, Seq("codes", "vectors").map(sub =>
      sub -> (() => spark.read.parquet(s"$dir/$sub").coalesce(par))))
  }

  /** IVF-SQ8 — the composition the [[sq8TopK]] scaladoc promises
    * (faiss's `IVF…,SQ8` index type): coarse cells PRUNE the scan to
    * `nProbe` cells per query, SQ8 byte codes COMPRESS what the scan
    * reads (1 byte/dim), the asymmetric reconstruct-and-score runs
    * only over probed members, and the exact re-rank touches just the
    * shortlist. Codes quantize the RAW vectors with global per-dim
    * stats (the faiss `by_residual=false` variant — residual encoding
    * would compose with per-cell stats like [[Pq.ivfAdcTopK]] does for
    * codebooks; raw keeps one stats table and the encode
    * cell-independent, which is what lets the SAME persisted codes
    * serve flat and IVF probes). Reconstruction + norm hoist below
    * the cell join (once per member) and the per-pair dot is the
    * codegen'd DDot — the two q194 lessons applied from the start.
    */
  def ivfSq8TopK(queries: DataFrame, corpus: DataFrame, topK: Int,
      nProbe: Int = 3, centroidStride: Int = 50, dim: Int = 64,
      trainIters: Int = 2, shortlistFactor: Int = 4): DataFrame = {
    import graft.functions.DDot.ddot
    // the coarse quantizer trains on the deterministic ~25% sample
    // (the Pq.trainCodebooks congruential bucket — reproducible at
    // any partitioning): centroids are statistics, not an index, so
    // the sample estimates them at a quarter of the training passes'
    // assign cost while ASSIGNMENT still covers every vector. Below
    // 4000 vectors the full corpus trains (bit-identical to the
    // pre-sample form the small-SF oracles pinned; a 1000-row sample
    // can't seed a stable cell structure anyway). The in-plan recall
    // audit travels with the gate at every scale, so the sampled
    // quantizer stays audited, not just fast — the q188/PQ-codebook
    // pattern applied to the sf10 training-dominated decade.
    val corpusN = corpus.count()
    val trainFrame =
      if (corpusN < 4000L) corpus
      else corpus.filter(Sampling.bucket($"vid") < 250)
    val quant = quantizerFor(trainFrame, centroidStride, dim, trainIters,
      corpusN = corpusN)
    val (mn, dl) = sq8Train(corpus)
    val mnA = array(mn.map(lit): _*)
    val dlA = array(dl.map(lit): _*)
    val recon = transform($"codes", (c, i) =>
      element_at(mnA, i + 1) +
        (c.cast("double") + 128d) * element_at(dlA, i + 1))
    val members = quant.assign(corpus).select($"vid", $"cid")
      .join(sq8EncodeWith(corpus, mn, dl), Seq("vid"))
      .withColumn("rv", recon)
      .withColumn("rn", sqrt(ddot($"rv", $"rv")))
      .select($"vid".as("m_vid"), $"cid", $"rv", $"rn")
    val probes = quant.probe(queries, nProbe)
      .select($"vid".as("q_vid"),
        transform($"qv", _.cast("double")).as("q_dv"), $"cid")
    val scored = probes.join(members, Seq("cid"))
      .filter($"q_vid" =!= $"m_vid")
      .select($"q_vid".as("query_id"), $"m_vid".as("cand_id"),
        when($"rn" === 0d, lit(Double.NaN))
          .otherwise(ddot($"q_dv", $"rv") / $"rn").as("cos"))
      .distinct() // a member reachable via 2 probed cells scores once
    Pq.rerankExact(rankTopK(scored, topK * shortlistFactor),
      queries, corpus, topK)
  }

  /** 1-bit binary-signature ANN — the extreme end of the quantization
    * family (LSH buckets, IVF cells, PQ codebooks, SQ8's byte per
    * dim, and now a single SIGN BIT per dim — the classic binary
    * hashing / sign-quantization design). Train is one corpus pass:
    * the per-dimension MEAN as threshold, from exact integer sums
    * over the quantized vectors (order-free, deterministic at any
    * parallelism), folded into dim-sized driver metadata. Encode
    * packs sign bits into `array<bigint>` words of 32 bits each —
    * 32 dims per stored word, a 32×-vs-int (256×-vs-double) scan
    * width reduction, which is the entire point at 100 TB: the flat
    * scan becomes memory-bandwidth bound and binary codes shrink the
    * working set two orders of magnitude. (32 bits per word, not 64,
    * keeps the in-lambda `2^b` packing term exact in LONG arithmetic
    * inside codegen'd expressions — Hamming scoring is unaffected.)
    * Scoring is SYMMETRIC Hamming — `bit_count(xor)` per word summed
    * with `zip_with` — against the equally-encoded query signature;
    * the shortlist flows through the bounded [[rankTopK]] aggregate
    * and only the shortlist is exact-re-ranked. Where SQ8 compresses
    * the scan 4×, binary codes compress it 32× and score with one
    * popcount per word; the recall floor the gate holds is
    * accordingly lower (bits discard all magnitude information).
    */
  def binaryTopK(queries: DataFrame, corpus: DataFrame, topK: Int,
      shortlistFactor: Int = 16): DataFrame = {
    // per-dim mean threshold: exact integer Σv / n — one map-side-
    // combined pass, dim-sized bounded driver metadata
    val stats = corpus.select(posexplode($"qv").as(Seq("d", "v")))
      .groupBy($"d").agg(sum($"v").as("s"), count(lit(1)).as("n"))
      .orderBy($"d").collect()
    val thr: Array[Double] =
      stats.map(r => r.getLong(1).toDouble / r.getLong(2))
    val dim = thr.length
    // codegen'd encode + scoring kernels (graft.functions.SignPack32 /
    // HammingFold): the HOF forms (transform/aggregate per bit on the
    // encode scan, aggregate(zip_with(bit_count(xor))) per pair in the
    // join) evaluate interpreted lambdas in the two hot loops — at
    // 100 TB the encode is a full corpus pass and the scoring loop is
    // corpus×queries. Packed words and distances are bit-identical.
    val thrA = array(thr.map(lit): _*)
    // EvalOnce: the encode must run once per ROW — without the pin,
    // whole-stage codegen defers the stream-side projection into the
    // corpus×queries inner loop of the join below and the encode runs
    // once per PAIR (see graft.functions.EvalOnce scaladoc; measured
    // 2× on this gate at sf0.1, queries× at scale)
    def signWords(v: Column): Column =
      graft.functions.EvalOnce.evalOnce(
        graft.functions.SignPack32.signPack(v, thrA))
    val enc = corpus.select($"vid", signWords($"qv").as("sig"))
    val q = broadcast(queries
      .select($"vid".as("q_vid"), signWords($"qv").as("q_sig")))
    val scored = enc.join(q, $"q_vid" =!= $"vid")
      .select($"q_vid".as("query_id"), $"vid".as("cand_id"),
        ((lit(dim) - graft.functions.HammingFold.hamming($"q_sig", $"sig"))
          .cast("double") / dim).as("cos"))
    Pq.rerankExact(rankTopK(scored, topK * shortlistFactor),
      queries, corpus, topK)
  }

  /** Each row's single nearest neighbor (argmax cosine) — the
    * embedding near-dup primitive. Exact, via a tiled block
    * cross-join: every vector gets a block id (`vid % nBlocks`), the
    * streamed side is replicated once per block, and the tile pairing
    * is an EQUI-join on the block id — so the plan is a shuffled
    * hash/sort-merge join whose tasks each hold one corpus block
    * (bounded memory, even distribution across executors), not a
    * BroadcastNestedLoopJoin of the whole corpus. The argmax is a
    * map-side partial `max(struct(cos, -id))` aggregation, so the only
    * full-width shuffle is O(n·nBlocks) replicated vectors and the
    * post-tile traffic is one (vec_id, best) row per vector per tile —
    * never the O(n²) pair stream.
    *
    * Why exact-tiled and not LSH/IVF candidates: all-NN over
    * embeddings with no cluster structure (this corpus: NN cosine
    * median ≈ 0.37 ≈ the random-pair tail) provably needs ~all pairs
    * for exact answers — measured here, candidate generation only
    * reaches full recall after examining MORE pairs than brute force.
    * The O(n²) dot products are inherent to exactness; tiling fixes
    * what scale actually breaks (memory, skew, shuffle volume). For
    * recall-tolerant workloads use [[lshTopK]]/[[ivfTopK]].
    *
    * At scale pick `nBlocks ≈ n / rowsPerTile` with rowsPerTile sized
    * so a tile's hash side fits in executor memory (~100k 64-dim
    * vectors ≈ 50 MB).
    *
    * GUARDED ([[QuadraticGuard]]): the exact pair volume is n²/2, and
    * over `spark.graft.quadratic.maxPairs` the call refuses
    * driver-side (naming [[lshTopK]]/[[ivfTopK]]) instead of running
    * for hours / spilling to disk exhaustion at a synthetic scale
    * point. `knownCount` skips the sizing count when the caller
    * already knows n. FORCING a big exact run (raising the bound)
    * should also raise
    * `spark.sql.objectHashAggregate.sortBased.fallbackThreshold`
    * toward the per-task group count (~2·tileWidth·tilesPerTask) —
    * TopKAgg states are ~50 B so millions of concurrent partials are
    * fine, while the 64k session default would sort-spill the
    * O(n²/blocks) pair stream (the r15 sf10 disk-filler).
    */
  def nearestNeighbor(corpus: DataFrame, nBlocks: Int = 32,
      knownCount: Long = -1L): DataFrame = {
    if (QuadraticGuard.maxPairs(corpus.sparkSession) > 0) {
      val n = if (knownCount >= 0L) knownCount else corpus.count()
      QuadraticGuard.check(corpus.sparkSession, "Similarity.nearestNeighbor",
        n.toDouble * n / 2, s"n=$n exact all-NN, nBlocks=$nBlocks",
        "Similarity.lshTopK / Similarity.ivfTopK (recall-audited ANN)")
    }
    // Upper-triangle tiling (same scheme as [[thresholdPairs]]): each
    // unordered pair's dot product is computed ONCE, then both
    // directions are emitted from the same row via explode — the
    // follow-up shuffle carries narrow (vec, nn, cos) rows into a
    // map-side partial argmax. Halves the dot products vs. the full
    // n² pairing without recomputing the join per direction.
    val blk = pmod($"vid", lit(nBlocks)).cast("int")
    val left = corpus
      .select($"vid".as("x"), $"qv".as("x_qv"), $"nrm".as("x_nrm"), blk.as("x_blk"))
      .withColumn("j", explode(sequence($"x_blk", lit(nBlocks - 1))))
    val right = corpus
      .select($"vid".as("y"), $"qv".as("y_qv"), $"nrm".as("y_nrm"), blk.as("y_blk"))
      .withColumn("i", explode(sequence(lit(0), $"y_blk")))
    left.join(right,
        $"x_blk" === $"i" && $"j" === $"y_blk" &&
          ($"x_blk" =!= $"y_blk" || $"x" < $"y"))
      .select($"x", $"y", cosineQ($"x_qv", $"y_qv", $"x_nrm", $"y_nrm").as("cos"))
      .select(explode(array(
          struct($"x".as("vec_id"), $"y".as("nn"), $"cos"),
          struct($"y".as("vec_id"), $"x".as("nn"), $"cos"))).as("d"))
      .select($"d.vec_id".as("vec_id"), $"d.nn".as("nn"), $"d.cos".as("cos"))
      .groupBy($"vec_id")
      // bounded hash-aggregated argmax — a struct-typed max() falls to
      // SortAggregate (struct buffers aren't hash-mutable) and sorts
      // the entire tiled pair stream; TopKAgg keeps the same
      // (cos desc, id asc) contract in O(1) state per group
      .agg(graft.functions.TopKAgg.topk_by_score($"cos", $"nn", 1).as("best"))
      .select($"vec_id", $"best"(0)("id").as("nn_id"), $"best"(0)("score").as("cos"))
  }

  /** All unordered pairs with cosine ≥ `threshold` (exact). Tiled like
    * [[nearestNeighbor]] but over the upper block triangle only: the x
    * side of a pair is replicated to tiles (x_blk, j≥x_blk), the y
    * side to tiles (i≤y_blk, y_blk), and the composite-key equi-join
    * pairs each unordered block tile exactly once — halving the dot
    * products and keeping every tile the same (n/nBlocks)² size (no
    * triangle skew across tasks).
    *
    * GUARDED ([[QuadraticGuard]]): exact pair volume n²/2; refuses
    * over `spark.graft.quadratic.maxPairs`, naming the LSH/minhash
    * near-dup family as the scale path. As a stateless streamed scan
    * its UNSET-conf default is the higher 1e11 (measured: 2e10 pairs
    * = 266 s at sf10 on local[32] — painful but sound, unlike
    * [[nearestNeighbor]]'s stateful argmax at the same volume).
    */
  def thresholdPairs(corpus: DataFrame, threshold: Double,
      nBlocks: Int = 32, knownCount: Long = -1L): DataFrame = {
    // stateless streamed scan (dot product → filter, no per-group
    // state): the higher scan default applies — see QuadraticGuard
    if (QuadraticGuard.maxPairs(corpus.sparkSession,
        QuadraticGuard.DefaultMaxScanPairs) > 0) {
      val n = if (knownCount >= 0L) knownCount else corpus.count()
      QuadraticGuard.check(corpus.sparkSession, "Similarity.thresholdPairs",
        n.toDouble * n / 2, s"n=$n exact all-pairs threshold scan",
        "Similarity.lshTopK / Dedup.minhashDedupPairs (recall-audited near-dup)",
        QuadraticGuard.DefaultMaxScanPairs)
    }
    val blk = pmod($"vid", lit(nBlocks)).cast("int")
    val left = corpus
      .select($"vid".as("x"), $"qv".as("x_qv"), $"nrm".as("x_nrm"), blk.as("x_blk"))
      .withColumn("j", explode(sequence($"x_blk", lit(nBlocks - 1))))
    val right = corpus
      .select($"vid".as("y"), $"qv".as("y_qv"), $"nrm".as("y_nrm"), blk.as("y_blk"))
      .withColumn("i", explode(sequence(lit(0), $"y_blk")))
    left.join(right,
        $"x_blk" === $"i" && $"j" === $"y_blk" &&
          ($"x_blk" =!= $"y_blk" || $"x" < $"y"))
      .select(least($"x", $"y").as("a"), greatest($"x", $"y").as("b"),
        cosineQ($"x_qv", $"y_qv", $"x_nrm", $"y_nrm").as("cos"))
      .filter($"cos" >= threshold)
  }

  /** Approximate top-k via multi-table LSH: candidates share a bucket
    * in ANY of `nTables` independent hyperplane tables (union boosts
    * recall; each table's join stays bounded by bucket occupancy, so
    * the whole thing scales linearly with corpus size instead of the
    * O(n²) brute-force pair space). Buckets come from one native
    * expression pass ([[graft.functions.LshBuckets]]) — an
    * element_at-per-dim column formulation would be ~2500 expression
    * nodes per union branch and minutes of janino compile time.
    *
    * PLANE COUNT IS CORPUS-ADAPTIVE (the quantizerFor/√n-cells
    * posture for the hyperplane family): at FIXED nPlanes, per-bucket
    * occupancy is n/2^planes — linear in corpus size — so the
    * candidate join is quadratic in disguise (measured: the sf100
    * point OOM'd at 2M vectors × 62.5k occupancy under 5 planes).
    * `nPlanes` is therefore the MINIMUM; the effective count is
    * max(nPlanes, ⌈log2(n / targetOccupancy)⌉), pinning occupancy
    * (and per-query candidate volume) near the target at any corpus
    * size. Below ~targetOccupancy·2^nPlanes vectors nothing changes —
    * every oracle-gated SF keeps the requested geometry. Per-table
    * collision recall falls as planes grow; nTables/nProbe are the
    * compensating knobs a production deployment raises alongside.
    *
    * SIZING COST (this builder is ACTION-BEARING): the adaptive floor
    * needs the corpus size, so calling this runs a Spark job before
    * the returned frame is ever acted on. A caller that already knows
    * the size (a persisted index's meta row, a batch ledger) passes
    * `knownCount` and pays nothing; otherwise a LIMIT-bounded probe
    * (floor + 1 rows, early-out capable) decides whether the floor can
    * engage at all, and only a corpus that clears the floor pays a
    * full count.
    *
    * `nProbe = AutoProbe` derives the probe count FROM the effective
    * plane count — the recall-compensation rule measured on ORGANIC
    * corpora (tools/OrganicBench, moderate-cosine clusters, 8 tables):
    * recall at fixed nProbe falls as planes grow (nProbe=3: 0.920 at
    * 7 planes/200k, 0.604 at 10 planes/2M — the audit-bound edge),
    * and 3 + 2·(planes − nPlanes) restores it with margin (0.988 at
    * 7 planes; 0.848 at 10 planes under the then single-flip cap of
    * 11 — the probe family now emits the FULL Lv et al. perturbation
    * sequence, multi-bit flips included, so the derived count is no
    * longer clamped to planes+1).
    *
    * `nProbe` DEFAULTS to [[AutoProbe]] (r16): the adaptive plane
    * floor means a caller who doesn't pin a probe count gets MORE
    * planes as the corpus grows — and with them, silently falling
    * recall if the probe count stays fixed. A default that derives
    * probes from the effective plane count keeps the recall posture
    * corpus-size-invariant; callers wanting the single-probe baseline
    * pin `nProbe = 1` explicitly.
    */
  def lshTopK(corpus: DataFrame, dim: Int, nPlanes: Int, k: Int,
      nTables: Int = 8, nProbe: Int = AutoProbe, queries: DataFrame = null,
      targetOccupancy: Int = 2048, knownCount: Long = -1L): DataFrame = {
    val n =
      if (knownCount >= 0L) knownCount
      else {
        // below this the adaptive floor is a no-op, so a bounded probe
        // (cheap: limit pushes into the scan) avoids the full count
        val floorN = math.min(targetOccupancy.toLong << nPlanes,
          (Int.MaxValue - 1).toLong)
        val probed = corpus.limit(floorN.toInt + 1).count()
        if (probed <= floorN) probed else corpus.count()
      }
    val adaptive = math.ceil(
      math.log(math.max(1.0, n.toDouble / targetOccupancy)) / math.log(2.0)).toInt
    val planes = math.max(nPlanes, adaptive)
    val probes =
      if (nProbe == AutoProbe) 3 + 2 * math.max(0, planes - nPlanes)
      else nProbe
    // `queries` (default: the whole corpus = all-NN) bounds the PROBE
    // side only — a post-hoc `filter(query_id < …)` cannot reach back
    // through the bucket join + distinct + bounded top-k aggregate, so
    // a capped query workload must enter here or it pays the all-NN
    // candidate space (measured 18.6 s vs sub-second at sf10 for the
    // 500-query gate).
    val queryDf = Option(queries).getOrElse(corpus)
    // Bucket join carries only ids; a pair colliding in m of the
    // nTables tables appears m times, so the distinct runs on NARROW
    // (query, cand) rows and the cosine is computed once per unique
    // pair after re-attaching vectors via two id-keyed joins (small
    // dim tables broadcast; at corpus scale they are plain shuffled
    // equi-joins — still linear).
    //
    // Multi-probe (nProbe > 1, Lv et al. VLDB'07): the QUERY side also
    // visits the nProbe-1 buckets across its lowest-margin planes —
    // recall of ~2× the table count at the cost of nProbe× query-side
    // bucket rows, with the member side (the corpus-sized one)
    // unchanged.
    val bucketed = corpus.select($"vid",
        posexplode(graft.functions.LshBuckets.lsh_buckets($"qv", nTables, planes, dim)))
      .withColumnRenamed("pos", "tbl")
      .withColumnRenamed("col", "bucket")
    val probed =
      if (probes <= 1)
        queryDf.select($"vid",
            posexplode(graft.functions.LshBuckets.lsh_buckets($"qv", nTables, planes, dim)))
          .withColumnRenamed("pos", "tbl")
          .withColumnRenamed("col", "bucket")
      else queryDf.select($"vid",
          posexplode(graft.functions.LshProbes.lsh_probes($"qv", nTables, planes, dim, probes)))
        .select($"vid", (col("pos") / probes).cast("int").as("tbl"),
          col("col").as("bucket"))
    val cands = probed.as("x").join(bucketed.as("y"),
        col("x.tbl") === col("y.tbl") && col("x.bucket") === col("y.bucket") &&
          col("x.vid") =!= col("y.vid"))
      .select(col("x.vid").as("query_id"), col("y.vid").as("cand_id"))
      .distinct()
    val scored = cands
      .join(queryDf.select($"vid".as("query_id"), $"qv".as("q_qv"), $"nrm".as("q_nrm")), "query_id")
      .join(corpus.select($"vid".as("cand_id"), $"qv".as("c_qv"), $"nrm".as("c_nrm")), "cand_id")
      .select($"query_id", $"cand_id",
        cosineQ($"q_qv", $"c_qv", $"q_nrm", $"c_nrm").as("cos"))
    rankTopK(scored, k)
  }

  /** Lloyd's k-means over the quantized grid — the IVF coarse
    * quantizer trainer. Init is the deterministic stride sample; each
    * round is (broadcast centroids → nearest-centroid argmax as a
    * map-side partial `max(struct)` aggregation → per-cell elementwise
    * mean via [[graft.functions.VecMeanAgg]]). No window shuffle, no
    * posexplode row blow-up: per round the shuffle carries one
    * (dim+1)-long partial per (partition, cell) — the classic scalable
    * k-means shape (centroids broadcast, data never re-partitioned).
    * Rounds materialize via localCheckpoint so the plan doesn't nest
    * (on a cluster with executor churn prefer `checkpoint()`).
    * Empty cells drop out (standard Lloyd's degeneracy handling).
    * Returns (cid, c_qv, c_nrm) — cids are the init sample's vids,
    * stable across rounds; centroid values are deterministic at any
    * partitioning because long sums are exact.
    */
  def trainCentroids(corpus: DataFrame, dim: Int, centroidStride: Int = 50,
      iters: Int = 3): DataFrame = {
    import graft.functions.VecMeanAgg
    var cents = corpus.filter($"vid" % centroidStride === 0)
      .select($"vid".as("cid"), $"qv".as("c_qv"))
    var it = 0
    while (it < iters) {
      val bc = broadcast(cents.withColumn("c_nrm", normQ($"c_qv")))
      cents = corpus.join(bc)
        .withColumn("c_cos", cosineQ($"qv", $"c_qv", $"nrm", $"c_nrm"))
        .groupBy($"vid")
        // hash-aggregated argmax (TopKAgg k=1): max(struct(...)) with
        // the vector payload is a SortAggregate that SORTS the whole
        // corpus×centroid stream — the measured wall in the sf10
        // assignment stages. any_value(qv) is deterministic (qv is
        // functionally dependent on vid).
        .agg(graft.functions.TopKAgg.topk_by_score($"c_cos", $"cid", 1).as("best"),
          any_value($"qv").as("v"))
        .groupBy($"best"(0)("id").as("cid"))
        .agg(VecMeanAgg.vec_mean($"v", dim).as("c_qv"))
        .localCheckpoint()
      it += 1
    }
    cents.withColumn("c_nrm", normQ($"c_qv"))
  }

  /** IVF (inverted-file) ANN: a coarse quantizer partitions the corpus
    * into cells; queries probe their `nProbe` nearest cells and rank
    * only those cells' members. The two joins are (corpus × centroids)
    * with the centroid side broadcast, and a cell-keyed equi-join —
    * both linear in corpus size. Centroids are the deterministic
    * stride sample by default, or k-means-trained ([[trainCentroids]])
    * when `trainIters > 0` — same assignment/probe machinery, tighter
    * cells, better recall at equal probes.
    */
  /** Broadcast coarse-quantizer centroids — trained k-means when
    * `trainIters > 0`, else the deterministic stride sample. Shared by
    * IVF, IVF-PQ and semantic dedup.
    *
    * The cell COUNT is capped (`maxCells`, FAISS-order ~4√n for the
    * target corpora): a fixed stride means cells grow LINEARLY with
    * the corpus, and both training and assignment score every vector
    * against every centroid — n·(n/stride) is quadratic, and the sf10
    * decade measured it directly (q42 at 342 s against 23k cells; the
    * 500-query probe was noise next to the n×23k assignment). With
    * the cap, training/assignment cost n·maxCells = linear, and the
    * probe side keeps the same nProbe/maxCells pruning fraction. At
    * the oracle scale factors (n ≤ ~51k) the cap never binds, so
    * gate/spec behavior is bit-identical.
    */
  private[graft] def coarseCentroids(corpus: DataFrame,
      centroidStride: Int, dim: Int, trainIters: Int,
      maxCells: Int = 1024): DataFrame = {
    val n = corpus.count()
    val stride = math.max(centroidStride,
      math.ceil(n.toDouble / maxCells).toInt).max(1)
    broadcast(
      if (trainIters > 0) {
        require(dim > 0, "trained IVF needs the vector dimension")
        trainCentroids(corpus, dim, stride, trainIters)
          .select($"cid", $"c_qv", $"c_nrm")
      } else
        corpus.filter($"vid" % stride === 0)
          .select($"vid".as("cid"), $"qv".as("c_qv"), $"nrm".as("c_nrm")))
  }

  /** A trained cell structure: `assign` places vectors in their one
    * nearest cell, `probe(df, n)` gives each vector its n nearest
    * cells. Both emit (vid, qv, nrm, cid). Flat = argmax over every
    * centroid; hierarchical = L1 argmax then argmax among that L1
    * cell's sub-centroids.
    */
  private[graft] case class Quantizer(
      assign: DataFrame => DataFrame,
      probe: (DataFrame, Int) => DataFrame)

  /** Pick the cell structure by scale — the q134/q144 scale-path
    * pattern: below `hierThreshold` vectors (every oracle SF) the flat
    * capped quantizer runs, bit-identical to the pre-hierarchy
    * behavior, and the specs/gates pin THAT form; above it, training
    * and assignment switch to the two-level quantizer whose cost is
    * O(n·√cells) instead of O(n·cells) — at sf10 that is 64 vs 1024+
    * centroid scores per vector. The recall audit travels with the
    * query (q42-shape gates compute recall IN-PLAN at any scale), so
    * the scaled form stays audited, not just fast.
    */
  private[graft] def quantizerFor(corpus: DataFrame, centroidStride: Int,
      dim: Int, trainIters: Int, targetCellSize: Int = 50,
      hierThreshold: Long = 50000L, corpusN: Long = -1L): Quantizer = {
    // the hier-vs-flat dispatch and the adaptive cell size are CORPUS
    // geometry: a caller training on a sample (ivfSq8TopK's ~25%
    // congruential bucket) passes the corpus count explicitly, or the
    // handover threshold would move ~4× up and the √n/4 cells would
    // come out half-size (more, smaller cells → lower recall at fixed
    // nProbe than the documented design)
    val n = if (corpusN >= 0L) corpusN else corpus.count()
    if (trainIters > 0 && n > hierThreshold) {
      // SIZE-ADAPTIVE cell granularity: with a FIXED cell size the
      // cell count C = n/size grows linearly and the hierarchical
      // per-vector assignment (≈ 2√C) grows as √n — n^1.5 total,
      // MEASURED: ivfSq8TopK alone 12.75 s at 200k vectors → 366.8 s
      // at 2M (28.8× per 10× data ≈ 10^1.5, AnnOpBench round 13).
      // Growing the cell size ∝ √n instead keeps C ∝ √n: assignment
      // is bounded at n^1.25 and the probe's per-cell scan grows √n —
      // the classic IVF balance (FAISS-style C ≈ β√n, public). The
      // max() keeps the pre-adaptive geometry until √n/4 crosses
      // targetCellSize (√50000/4 ≈ 56, so the handover at the
      // hierarchical threshold is near-continuous), and the flat
      // branch below the threshold — every oracle-gate SF — is
      // untouched. Bigger cells at fixed nProbe only RAISE recall;
      // the in-plan recall audits travel with every gate.
      val adaptiveSize = math.max(targetCellSize,
        math.ceil(math.sqrt(n.toDouble) / 4).toInt)
      val (l1, l2) = hierQuantizer(corpus, dim, adaptiveSize, trainIters)
      Quantizer(df => assignHier(df, l1, l2),
        (df, np) => probeHier(df, l1, l2, nL1 = 2, nProbe = np))
    } else {
      val cents = coarseCentroids(corpus, centroidStride, dim, trainIters)
      Quantizer(df => cellsFor(df, cents, 1, ""),
        (df, np) => cellsFor(df, cents, np, ""))
    }
  }

  /** Two-level coarse quantizer (hierarchical k-means — the inverted
    * multi-index / FAISS-IMI family shape, public): level 1 is
    * c1 ≈ √(n/targetCellSize) Lloyd-trained cells; level 2 trains
    * ~csize/targetCellSize sub-centroids INSIDE each level-1 cell (one
    * vec-mean aggregation per round keyed by (l1, sub)). Every vector
    * scores c1 + its-cell's-subcount centroids per pass — O(n·√C)
    * train/assign where the flat quantizer pays O(n·C); final cell
    * granularity (~targetCellSize members) is the same. Sub-centroid
    * ids are member vids (globally unique, stable across rounds), and
    * all arithmetic is the exact-long quantized grid, so the
    * structure is deterministic at any partitioning like
    * [[trainCentroids]].
    */
  private[graft] def hierQuantizer(corpus: DataFrame, dim: Int,
      targetCellSize: Int = 50, iters: Int = 2): (DataFrame, DataFrame) = {
    import org.apache.spark.sql.expressions.Window
    val n = corpus.count()
    val c = math.max(1L, n / targetCellSize)
    val c1 = math.max(1, math.ceil(math.sqrt(c.toDouble)).toInt)
    val stride1 = math.max(1, (n / c1).toInt)
    val l1 = broadcast(trainCentroids(corpus, dim, stride1, iters)
      .select($"cid", $"c_qv", $"c_nrm"))
    val asg1 = cellsFor(corpus, l1, 1, "").localCheckpoint()
    val wc = Window.partitionBy($"cid").orderBy($"vid")
    // init: deterministic stride sample within each L1 cell, one
    // sub-centroid per ~targetCellSize members (cells smaller than
    // the target keep a single sub-cell — no over-splitting)
    var l2 = asg1
      .withColumn("rn", (row_number().over(wc) - 1).cast("long"))
      .withColumn("csize", count(lit(1)).over(Window.partitionBy($"cid")))
      .withColumn("stride",
        greatest(floor($"csize" / ceil($"csize" / lit(targetCellSize.toDouble))), lit(1.0))
          .cast("long"))
      .filter(pmod($"rn", $"stride") === 0)
      .select($"cid".as("l1"), $"vid".as("scid"),
        $"qv".as("c_qv"), $"nrm".as("c_nrm"))
    var it = 0
    while (it < iters) {
      val bc = broadcast(l2)
      l2 = asg1.join(bc, $"cid" === $"l1")
        .withColumn("c_cos", cosineQ($"qv", $"c_qv", $"nrm", $"c_nrm"))
        .groupBy($"vid")
        // hash-aggregated argmax (see trainCentroids) — scids are
        // globally unique and a vector only scores its own L1 cell's
        // subs, so (l1, scid) regroups via any_value(cid)
        .agg(graft.functions.TopKAgg.topk_by_score($"c_cos", $"scid", 1).as("best"),
          any_value($"qv").as("v"), any_value($"cid").as("c1c"))
        .groupBy($"c1c".as("l1"), $"best"(0)("id").as("scid"))
        .agg(graft.functions.VecMeanAgg.vec_mean($"v", dim).as("c_qv"))
        .withColumn("c_nrm", normQ($"c_qv"))
        .localCheckpoint()
      it += 1
    }
    (l1, broadcast(l2))
  }

  /** One-cell hierarchical assignment: L1 argmax (c1 scores) then
    * argmax among that cell's sub-centroids. Emits (vid, qv, nrm, cid)
    * with cid = the winning sub-centroid id. Inputs must be corpus
    * members or share its vector space (every L1 cell has ≥1
    * sub-centroid by construction, so the equi-join drops nothing).
    */
  private[graft] def assignHier(df: DataFrame, l1: DataFrame,
      l2: DataFrame): DataFrame =
    cellsFor(df, l1, 1, "")
      .join(l2, $"cid" === $"l1")
      .withColumn("c_cos", cosineQ($"qv", $"c_qv", $"nrm", $"c_nrm"))
      .groupBy($"vid")
      .agg(graft.functions.TopKAgg.topk_by_score($"c_cos", $"scid", 1).as("best"),
        any_value($"qv").as("v"), any_value($"nrm").as("nm"))
      .select($"vid", $"v".as("qv"), $"nm".as("nrm"),
        $"best"(0)("id").as("cid"))

  /** Multi-cell hierarchical probe: nL1 nearest level-1 cells, then
    * the nProbe best sub-centroids among their unions — the two-level
    * probe every multi-index ANN system uses. One row per (vid,
    * probed cid).
    */
  private[graft] def probeHier(df: DataFrame, l1: DataFrame, l2: DataFrame,
      nL1: Int, nProbe: Int): DataFrame =
    cellsFor(df, l1, nL1, "")
      .join(l2, $"cid" === $"l1")
      .withColumn("c_cos", cosineQ($"qv", $"c_qv", $"nrm", $"c_nrm"))
      .groupBy($"vid")
      .agg(graft.functions.TopKAgg.topk_by_score($"c_cos", $"scid", nProbe).as("cells"),
        any_value($"qv").as("v"), any_value($"nrm").as("nm"))
      .select($"vid", $"v".as("qv"), $"nm".as("nrm"), explode($"cells.id").as("cid"))

  def ivfTopK(corpus: DataFrame, k: Int, centroidStride: Int = 50,
      nProbe: Int = 2, dim: Int = 0, trainIters: Int = 0,
      queries: DataFrame = null): DataFrame = {
    val quant = quantizerFor(corpus, centroidStride, dim, trainIters)

    // `queries` (default: whole corpus = all-NN) bounds the probe side
    // at the source — a filter applied AFTER the operator cannot push
    // back through the cell join + top-k aggregate, so the all-NN
    // probe space runs anyway (measured 124 s vs ~5 s at sf10 for the
    // 500-query gate). Training and members always use the full corpus.
    val queryDf = Option(queries).getOrElse(corpus)
    val members = quant.assign(corpus)   // each vector lives in 1 cell
      .select($"vid".as("m_vid"), $"qv".as("m_qv"), $"nrm".as("m_nrm"), $"cid")
    val probes = quant.probe(queryDf, nProbe) // queries probe nProbe cells
      .select($"vid".as("q_vid"), $"qv".as("q_qv"), $"nrm".as("q_nrm"), $"cid")

    val cands = probes.join(members, Seq("cid"))
      .filter($"q_vid" =!= $"m_vid")
      .select($"q_vid".as("query_id"), $"m_vid".as("cand_id"),
        cosineQ($"q_qv", $"m_qv", $"q_nrm", $"m_nrm").as("cos"))
      .distinct()
    rankTopK(cands, k)
  }

  /** Cell assignment against a broadcast centroid set — argmax
    * centroid cosine (deterministic ties by cid). `n == 1` is the
    * member-side single-cell argmax (the same map-side partial
    * `max(struct)` shape trainCentroids uses: one partial row per
    * (partition, vid) instead of a full row_number window shuffle over
    * corpus×centroid scored rows); `n > 1` is the probe-side top-n via
    * the bounded TopKAgg partial aggregate — one k-bounded partial row
    * per (vid, map partition). qv/nrm are functionally dependent on
    * vid (`any_value` is deterministic here), so the group stays
    * narrow. Shared by IVF and the IVF-PQ composition.
    */
  private[graft] def cellsFor(df: DataFrame, centroids: DataFrame,
      n: Int, outPrefix: String): DataFrame = {
    val scored = df.join(centroids)
      .withColumn("c_cos", cosineQ($"qv", $"c_qv", $"nrm", $"c_nrm"))
    if (n == 1)
      scored.groupBy($"vid")
        // TopKAgg(1), not max(struct(...)): a struct-typed max is a
        // SortAggregate (struct buffers aren't hash-mutable), which
        // SORTS the n×C scored stream — the assignment wall the sf10
        // profile caught (850 s of spill-merge CPU per task)
        .agg(graft.functions.TopKAgg.topk_by_score($"c_cos", $"cid", 1).as("best"),
          any_value($"qv").as("v"), any_value($"nrm").as("nm"))
        .select($"vid".as(s"${outPrefix}vid"), $"v".as(s"${outPrefix}qv"),
          $"nm".as(s"${outPrefix}nrm"), $"best"(0)("id").as("cid"))
    else
      scored.groupBy($"vid")
        .agg(
          graft.functions.TopKAgg.topk_by_score($"c_cos", $"cid", n).as("cells"),
          any_value($"qv").as("v"), any_value($"nrm").as("nm"))
        .select($"vid".as(s"${outPrefix}vid"), $"v".as(s"${outPrefix}qv"),
          $"nm".as(s"${outPrefix}nrm"), explode($"cells.id").as("cid"))
  }

  /** PERSISTED IVF index — the q116 persisted-BM25 story for vectors:
    * at 100 TB you train the coarse quantizer once, not per query
    * batch. `build` trains centroids and writes (centroids, members
    * partitioned by cell); `append` assigns a delta against the
    * FROZEN centroids (no retrain — append-then-probe is provably
    * identical to assigning the union against the same centroids,
    * SimilaritySpec pins it) and appends only delta-sized files;
    * `probe` broadcasts the centroid table, restricts the member scan
    * to the probed cells via an IN-list (partition pruning on the
    * cid directory layout — the probe reads probed cells only, not
    * the corpus), and ranks with the k-bounded aggregate. Nothing
    * scales with corpus × queries; the cell-id collect is bounded by
    * queries × nProbe (the θ-seed pattern). Centroid drift from
    * frozen-centroid appends is the standard IVF trade (FAISS `add`)
    * — recall is the gate's audited contract, not cell assignment.
    */
  def buildIvfIndex(corpus: DataFrame, dim: Int, dir: String,
      centroidStride: Int = 50, trainIters: Int = 2,
      hierThreshold: Long = 50000L, builtBy: Long = -1L): Unit = {
    val n = corpus.count()
    if (trainIters > 0 && n > hierThreshold) {
      // the quantizerFor scale dispatch, PERSISTED: above the
      // threshold the on-disk structure is the two-level quantizer
      // (centroids_l1 + centroids_l2 tables), so append/probe score
      // O(√C) centroids per vector instead of the flat C — the q147
      // sf10 profile put the whole remaining cost in that flat
      // n×maxCells assignment. Below the threshold the layout is
      // byte-identical to the pre-hierarchy format (every oracle SF
      // pins THAT form).
      val (l1, l2) = hierQuantizer(corpus, dim, targetCellSize = 50,
        iters = trainIters)
      l1.write.mode("overwrite").parquet(s"$dir/centroids_l1")
      l2.write.mode("overwrite").parquet(s"$dir/centroids_l2")
      // directory partitioning must stay BOUNDED: final cells grow as
      // n/targetCellSize (40k dirs at sf10, millions at 100 TB — a
      // directory-per-cell layout melts the filesystem), so members
      // partition by the √C-bounded L1 cell and keep cid as a plain
      // column — the probe prunes partitions on l1 and row groups on
      // cid (parquet min/max after the per-l1 write clusters cids)
      assignHier(corpus, l1, l2)
        .join(broadcast(l2.select($"scid".as("cid"), $"l1")), "cid")
        .select($"vid".as("m_vid"), $"qv".as("m_qv"), $"nrm".as("m_nrm"),
          $"cid", $"l1")
        .write.mode("overwrite").partitionBy("l1").parquet(s"$dir/members")
    } else {
      val cents = coarseCentroids(corpus, centroidStride, dim, trainIters)
      cents.write.mode("overwrite").parquet(s"$dir/centroids")
      cellsFor(corpus, cents, 1, "m_")
        .write.mode("overwrite").partitionBy("cid").parquet(s"$dir/members")
    }
    writeBuiltMarker(corpus.sparkSession, dir, builtBy)
  }

  /** The persisted quantizer structure, dispatched on the layout the
    * build wrote (two-level tables when present, flat otherwise) —
    * readers never need to know which scale regime built the index.
    */
  /** The persisted layout: the quantizer rebuilt from the on-disk
    * tables, plus (two-level only) the tiny cid → l1 map that routes
    * rows to the bounded L1 directory partitioning.
    */
  private case class IvfLayout(quant: Quantizer, cidToL1: Option[DataFrame])

  private def readLayout(spark: org.apache.spark.sql.SparkSession,
      dir: String): IvfLayout = {
    val p = new org.apache.hadoop.fs.Path(s"$dir/centroids_l1")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // the centroid tables are a few KB: read on the driver into local
    // frames, so the broadcasts scan no file
    if (fs.exists(p)) {
      val l1 = broadcast(TinyParquet.local(spark, s"$dir/centroids_l1"))
      val l2 = broadcast(TinyParquet.local(spark, s"$dir/centroids_l2"))
      IvfLayout(
        Quantizer(df => assignHier(df, l1, l2),
          (df, np) => probeHier(df, l1, l2, nL1 = 2, nProbe = np)),
        Some(l2.select($"scid".as("cid"), $"l1")))
    } else {
      val cents = broadcast(TinyParquet.local(spark, s"$dir/centroids"))
      IvfLayout(
        Quantizer(df => cellsFor(df, cents, 1, ""),
          (df, np) => cellsFor(df, cents, np, "")),
        None)
    }
  }

  /** Frozen-quantizer delta append into `members`, or into
    * `stagingPath/members` with the same partition layout
    * ([[IndexMaintenance.writeTarget]]).
    */
  def appendIvfIndex(spark: org.apache.spark.sql.SparkSession,
      delta: DataFrame, dir: String,
      stagingPath: Option[String] = None): Unit = {
    val lay = readLayout(spark, dir)
    val asg = lay.quant.assign(delta)
      .select($"vid".as("m_vid"), $"qv".as("m_qv"), $"nrm".as("m_nrm"), $"cid")
    val (root, mode) = IndexMaintenance.writeTarget(dir, stagingPath)
    lay.cidToL1 match {
      case Some(map) =>
        asg.join(broadcast(map), "cid")
          .write.mode(mode).partitionBy("l1").parquet(s"$root/members")
      case None =>
        asg.write.mode(mode).partitionBy("cid").parquet(s"$root/members")
    }
  }

  def ivfProbeIndexed(spark: org.apache.spark.sql.SparkSession, dir: String,
      queries: DataFrame, k: Int, nProbe: Int = 2): DataFrame = {
    val lay = readLayout(spark, dir)
    val probes = lay.quant.probe(queries, nProbe)
      .select($"vid".as("q_vid"), $"qv".as("q_qv"), $"nrm".as("q_nrm"), $"cid")
    // bounded by |queries| × nProbe — the vocabulary-of-the-query collect
    val members = lay.cidToL1 match {
      case Some(map) =>
        // two-level: partition-prune on the bounded l1 dirs, then
        // row-group-prune on the cid column inside them
        val pairs = probes.select($"cid").distinct()
          .join(broadcast(map), "cid")
          .collect().map(r => (r.getLong(0), r.getLong(1)))
        val cellIds = pairs.map(_._1).toSeq
        val l1Ids = pairs.map(_._2).distinct.toSeq
        spark.read.parquet(s"$dir/members")
          .withColumn("l1", $"l1".cast("long")) // partition col inference
          .filter($"l1".isin(l1Ids: _*) && $"cid".isin(cellIds: _*))
          .drop("l1")
      case None =>
        val cellIds = probes.select($"cid").distinct()
          .collect().map(_.getLong(0)).toSeq
        spark.read.parquet(s"$dir/members")
          .withColumn("cid", $"cid".cast("long")) // partition col inference
          .filter($"cid".isin(cellIds: _*))
    }
    val cands = probes.join(members, Seq("cid"))
      .filter($"q_vid" =!= $"m_vid")
      .select($"q_vid".as("query_id"), $"m_vid".as("cand_id"),
        cosineQ($"q_qv", $"m_qv", $"q_nrm", $"m_nrm").as("cos"))
      .distinct()
    rankTopK(cands, k)
  }

  /** Maintenance compaction after repeated appends (the
    * compactBm25Index symmetry): each append adds one file per
    * touched cell, so a long append history fragments the member
    * directories. Rewrite = one shuffle by cell (one file per cell
    * after), partitioned as the build wrote it and swapped in by
    * [[IndexMaintenance.compactTables]]. Probe results are
    * bit-identical before/after (the probe never depends on file
    * layout — SimilaritySpec pins it).
    */
  def compactIvfIndex(spark: org.apache.spark.sql.SparkSession, dir: String): Unit = {
    // partition column follows the layout: l1 for two-level, cid flat
    val hier = {
      val p = new org.apache.hadoop.fs.Path(s"$dir/centroids_l1")
      p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
    }
    val pcol = if (hier) "l1" else "cid"
    IndexMaintenance.compactTables(spark, dir, Seq("members" -> (() =>
      spark.read.parquet(s"$dir/members")
        .withColumn(pcol, col(pcol).cast("long"))
        .repartition(col(pcol)))),
      partitionCols = Map("members" -> Seq(pcol)))
  }

  /** Semantic deduplication (SemDeDup-shaped): cluster the corpus with
    * the same trained coarse quantizer IVF uses, then WITHIN each
    * cluster drop every vector that has a smaller-id neighbor with
    * cosine >= `tau` (keep-first-by-id — deterministic, no iteration).
    * Returns one row per vector: `(vid, keep_id)` where `keep_id` is
    * the smallest such earlier neighbor for dropped vectors and NULL
    * for kept ones.
    *
    * Scale design: the only non-broadcast join is the within-cluster
    * self-join, keyed on cluster id — quadratic in CLUSTER size, never
    * corpus size. Centroid count grows with the corpus
    * (`centroidStride` fixes the expected cluster population), so the
    * per-cluster pair work stays bounded as the corpus scales; a
    * pathological giant cluster is the same skew class the LSH paths
    * handle with hot-bucket caps and would be split by re-clustering
    * its members. Cluster assignment is the map-side `max(struct)`
    * argmax (one partial row per vector — no window shuffle).
    */
  def semanticDedup(corpus: DataFrame, tau: Double, dim: Int,
      centroidStride: Int = 50, trainIters: Int = 2): DataFrame = {
    val members = quantizerFor(corpus, centroidStride, dim, trainIters)
      .assign(corpus)

    val dropped = members.as("x").join(members.as("y"),
        col("x.cid") === col("y.cid") && col("x.vid") < col("y.vid"))
      .filter(cosineQ(col("x.qv"), col("y.qv"),
        col("x.nrm"), col("y.nrm")) >= tau)
      .groupBy(col("y.vid").as("vid"))
      .agg(min(col("x.vid")).as("keep_id"))

    members.select($"vid", $"cid").join(dropped, Seq("vid"), "left")
  }

  /** Collapse-first [[semanticDedup]] — the q124/q125 pattern pointed
    * at vectors: group by 64-bit hash of the QUANTIZED vector, run
    * the within-cluster pair join over one representative per
    * distinct vector, and expand labels through membership. Output is
    * provably identical to [[semanticDedup]] (SimilaritySpec pins it
    * on a replicated corpus):
    *
    *  - centroids train on the FULL corpus (training is linear — the
    *    duplicated mass must shape the same centroids the direct path
    *    trains), and identical vectors land in the same cell, so a
    *    group lives in one cell;
    *  - cosine between members equals cosine between their reps, and
    *    within a group cosineQ(v, v) = dot/nrm² ≈ 1 ≥ tau, so with
    *    R(g) = min(rep(g), min similar-rep in cell) the direct rule
    *    keep_id(y) = min{x < y, same cell, cos ≥ tau} reduces to
    *    `R(g) if R(g) < y else NULL` — a rep smaller than y exists in
    *    a similar group iff that group's min (its rep) is smaller.
    *
    * The pair join drops from corpus-quadratic-per-cell to
    * unique-content-quadratic-per-cell; at a duplication factor d
    * that is d² less work, same as the text family.
    */
  def collapsedSemanticDedup(corpus: DataFrame, tau: Double, dim: Int,
      centroidStride: Int = 50, trainIters: Int = 2): DataFrame = {
    val member = corpus.select($"vid", xxhash64($"qv").as("gh"))
    val reps = corpus.groupBy(xxhash64($"qv").as("gh"))
      .agg(min($"vid").as("vid"), first($"qv").as("qv"), first($"nrm").as("nrm"))
    val repCells = quantizerFor(corpus, centroidStride, dim, trainIters)
      .assign(reps.select($"vid", $"qv", $"nrm"))
    val minSim = repCells.as("x").join(repCells.as("y"),
        col("x.cid") === col("y.cid") && col("x.vid") =!= col("y.vid"))
      .filter(cosineQ(col("x.qv"), col("y.qv"),
        col("x.nrm"), col("y.nrm")) >= tau)
      .groupBy(col("y.vid").as("vid"))
      .agg(min(col("x.vid")).as("min_sim"))
    val gR = repCells.select($"vid", $"cid")
      .join(minSim, Seq("vid"), "left")
      .select($"vid".as("rep"), $"cid",
        least($"vid", coalesce($"min_sim", $"vid")).as("r0"))
    member
      .join(reps.select($"gh", $"vid".as("rep")), "gh")
      .join(gR, "rep")
      .select($"vid", $"cid", when($"r0" < $"vid", $"r0").as("keep_id"))
  }

  /** UNIQUE-TRAINED semantic dedup — the 100 TB form of
    * [[collapsedSemanticDedup]]. The collapsed variant still trains
    * its quantizer on the FULL corpus (cells ∝ corpus/50) so the
    * output stays provably identical to [[semanticDedup]]; under a
    * duplication factor d that training is O(n·√(n/50)) in the
    * REPLICATED n — the stage the sf100 decade measured at >1800 s
    * (n^1.5 never survives the third decade). Here BOTH the
    * quantizer and the pair machinery run over one representative
    * per distinct vector: cell count follows UNIQUE content
    * (duplicated mass must not multiply centroids — a web corpus
    * with 1000 copies of each page does not need 1000× the cells),
    * training/assignment cost follows unique count, and labels
    * expand through group membership exactly as in the collapsed
    * form. On a duplicate-free corpus reps == corpus, so this is
    * ROW-IDENTICAL to [[semanticDedup]] (SimilaritySpec pins it);
    * under duplication the cell boundaries may differ from the
    * full-trained quantizer's, but the q90-family audit contract
    * (drops witnessed in-cell at cos ≥ tau, kept set pair-clean) is
    * quantizer-independent and gates the operator at every scale.
    */
  def uniqueTrainedSemanticDedup(corpus: DataFrame, tau: Double, dim: Int,
      centroidStride: Int = 50, trainIters: Int = 2): DataFrame = {
    val member = corpus.select($"vid", xxhash64($"qv").as("gh"))
    val reps = corpus.groupBy(xxhash64($"qv").as("gh"))
      .agg(min($"vid").as("vid"), first($"qv").as("qv"), first($"nrm").as("nrm"))
      .localCheckpoint()
    val repVecs = reps.select($"vid", $"qv", $"nrm")
    val repCells = quantizerFor(repVecs, centroidStride, dim, trainIters)
      .assign(repVecs)
    val minSim = repCells.as("x").join(repCells.as("y"),
        col("x.cid") === col("y.cid") && col("x.vid") =!= col("y.vid"))
      .filter(cosineQ(col("x.qv"), col("y.qv"),
        col("x.nrm"), col("y.nrm")) >= tau)
      .groupBy(col("y.vid").as("vid"))
      .agg(min(col("x.vid")).as("min_sim"))
    val gR = repCells.select($"vid", $"cid")
      .join(minSim, Seq("vid"), "left")
      .select($"vid".as("rep"), $"cid",
        least($"vid", coalesce($"min_sim", $"vid")).as("r0"))
    member
      .join(reps.select($"gh", $"vid".as("rep")), "gh")
      .join(gR, "rep")
      .select($"vid", $"cid", when($"r0" < $"vid", $"r0").as("keep_id"))
  }
}
