package graft.operators

import graft.functions.{PqAdcScore, VecMeanAgg}
import graft.functions.VectorFunctions._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.syntax._

/** Product quantization (PQ) — the embedding-compression scale path
  * for ANN over 100 TB corpora: each vector is split into `m`
  * subspaces, every subvector replaced by the index of its nearest
  * entry in a per-subspace `k`-entry codebook, so a d-dim vector
  * becomes `m` small integers (here 64 dims × 8 bytes → 8 codes).
  * Queries score candidates with an asymmetric-distance (ADC) table:
  * one `m × k` lookup table per query, then `m` adds per candidate
  * ([[graft.functions.PqAdcScore]], codegen'd) instead of a d-dim
  * dot product.
  *
  * Scale design, stage by stage:
  *  - Codebook training is per-subspace Lloyd's over the subvector
  *    frame — broadcast-assign (map-side `max(struct)` argmin) + the
  *    [[VecMeanAgg]] partial-aggregate centroid update, the exact
  *    shape IVF's `trainCentroids` uses. Codebooks are `m × k`
  *    entries — broadcastable at any corpus size.
  *  - Encoding is one broadcast join + argmin per (vector, subspace):
  *    linear scan, map-side partial aggregation, output `m` ints +
  *    the vector's norm per row (the 8× wire/memory compression that
  *    makes a 100 TB corpus's candidate scan feasible).
  *  - ADC search scans encoded candidates against the BROADCAST query
  *    tables and ranks with the bounded TopKAgg partial aggregate —
  *    candidate-volume-independent shuffle, same as the other ANN
  *    paths. At full scale this composes with IVF cells (probe first,
  *    ADC-score within probed cells); here the scan is whole-corpus
  *    so recall isolates PQ's quantization error alone.
  *
  * All arithmetic is integer (quantized vectors, integer table
  * entries), so codebooks, codes and scores are bit-deterministic at
  * any partitioning.
  */
object Pq {

  /** Subvector frame of a [[Similarity.prepare]]d corpus:
    * `(vid, sub, sqv)` with `sub` in `0..m-1`. */
  private[graft] def subvectors(corpus: DataFrame, m: Int, dim: Int): DataFrame = {
    require(dim % m == 0, s"dim=$dim not divisible by m=$m subspaces")
    val d = dim / m
    corpus.select($"vid", $"qv", posexplode(sequence(lit(0), lit(m - 1))))
      .select($"vid", col("col").cast("int").as("sub"),
        slice($"qv", col("col") * d + 1, lit(d)).as("sqv"))
  }

  /** Nearest codebook entry per (vector, subspace) by L2 distance —
    * `||x||² - 2x·c + ||c||²`, all integer; deterministic ties to the
    * smallest code. */
  private def assign(subs: DataFrame, codebook: DataFrame): DataFrame =
    subs.join(broadcast(codebook), Seq("sub"))
      .withColumn("dist",
        dotQ($"sqv", $"sqv") - lit(2L) * dotQ($"sqv", $"c_sqv") +
          dotQ($"c_sqv", $"c_sqv"))
      .groupBy($"vid", $"sub")
      // deliberately max(struct(...)) (SortAggregate), NOT the TopKAgg
      // hash argmax the cell assignments use: the group key here is
      // (vid, sub) — m× the vector count — which overflows the
      // ObjectHashAggregate in-memory threshold per task and degrades
      // to sort-based WITH per-state serialization (measured 80→178 s
      // at sf10). The stream per group is only k=16 codebook rows, so
      // the partial sort is the cheaper physical shape at this key
      // cardinality.
      .agg(max(struct((-$"dist").as("nd"), (-$"code").as("nc"),
        $"sqv".as("v"))).as("best"))
      .select($"vid", $"sub", (-$"best.nc").cast("int").as("code"),
        $"best.v".as("sqv"))

  /** Train per-subspace codebooks: `(sub, code, c_sqv)`, `code` in
    * `0..k-1` (an entry can vanish if its cell empties — standard
    * Lloyd's). Init is the deterministic first-`k` sample — unlike a
    * stride it always seeds a FULL codebook (k entries per subspace)
    * whatever the corpus size; Lloyd's rounds then spread the
    * centroids. */
  def trainCodebooks(corpus: DataFrame, m: Int, k: Int, dim: Int,
      iters: Int = 2): DataFrame = {
    // Lloyd's rounds train on a deterministic ~25% sample (the same
    // congruential bucket the split family uses — reproducible at any
    // partitioning): codebooks are statistics, not an index, so a
    // sample estimates them as well as the full pass at a quarter of
    // the assign cost; the ENCODE step still covers every vector, and
    // the recall gates (>= 0.25 at both sf) hold measured headroom.
    val subs = subvectors(
      corpus.filter(Sampling.bucket($"vid") < 250), m, dim)
    var cb = subvectors(corpus.filter($"vid" < k), m, dim)
      .select($"sub", $"vid".cast("int").as("code"), $"sqv".as("c_sqv"))
    var it = 0
    while (it < iters) {
      cb = assign(subs, cb)
        .groupBy($"sub", $"code")
        .agg(VecMeanAgg.vec_mean($"sqv", dim / m).as("c_sqv"))
        .localCheckpoint()
      it += 1
    }
    cb
  }

  /** Encode the corpus: `(vid, codes array<int> ordered by subspace,
    * nrm)` — the 8-codes-per-vector compressed representation. */
  def encode(corpus: DataFrame, codebook: DataFrame, m: Int, dim: Int): DataFrame =
    assign(subvectors(corpus, m, dim), codebook)
      .groupBy($"vid")
      .agg(transform(array_sort(collect_list(struct($"sub", $"code"))),
        x => x.getField("code")).as("codes"))
      .join(corpus.select($"vid", $"nrm"), Seq("vid"))

  /** Per-query flattened ADC lookup tables: `(vid, qtab, nrm)` where
    * `qtab[sub * k + code] = q_sub · codebook[sub][code]` (integer).
    * Slots of vanished codes hold 0 — no corpus code references them. */
  def queryTables(queries: DataFrame, codebook: DataFrame, m: Int, k: Int,
      dim: Int): DataFrame =
    subvectors(queries, m, dim)
      .join(broadcast(codebook), Seq("sub"))
      .select($"vid", ($"sub" * k + $"code").cast("int").as("slot"),
        dotQ($"sqv", $"c_sqv").as("contrib"))
      .groupBy($"vid")
      .agg(map_from_entries(collect_list(struct($"slot", $"contrib"))).as("mp"))
      .select($"vid",
        transform(sequence(lit(0), lit(m * k - 1)),
          i => coalesce(element_at($"mp", i.cast("int")), lit(0L))).as("qtab"))
      .join(queries.select($"vid", $"nrm"), Seq("vid"))

  /** Approximate top-`topK` cosine neighbors via the standard
    * two-stage PQ retrieval: the codegen'd ADC lookup-sum scan over
    * the compressed corpus shortlists `shortlistFactor × topK`
    * candidates per query (bounded TopKAgg — candidate-volume-
    * independent shuffle), then ONLY the shortlist rows join back to
    * their raw vectors for an exact re-rank. The expensive full-width
    * scan never happens; the exact math touches
    * `queries × shortlist` rows — the shape that makes PQ pay at
    * 100 TB (compressed scan over everything, exact arithmetic over
    * almost nothing). */
  def adcTopK(queries: DataFrame, corpus: DataFrame, topK: Int,
      m: Int = 8, k: Int = 16, dim: Int = 64, iters: Int = 2,
      shortlistFactor: Int = 8): DataFrame = {
    val cb = trainCodebooks(corpus, m, k, dim, iters)
    val enc = encode(corpus, cb, m, dim)
    val qt = queryTables(queries, cb, m, k, dim)
      .select($"vid".as("q_vid"), $"qtab", $"nrm".as("q_nrm"))
    val denom = $"q_nrm" * $"nrm"
    val scored = enc.join(broadcast(qt))
      .filter($"q_vid" =!= $"vid")
      .select($"q_vid".as("query_id"), $"vid".as("cand_id"),
        when(denom === lit(0d), lit(Double.NaN))
          .otherwise(PqAdcScore.pq_adc($"codes", $"qtab", k).cast("double") / denom)
          .as("cos"))
    rerankExact(Similarity.rankTopK(scored, topK * shortlistFactor),
      queries, corpus, topK)
  }

  /** Exact re-rank of an ADC shortlist: only the shortlist rows join
    * back to raw vectors (shuffle bounded by queries × shortlist, not
    * corpus size), queries broadcast, final top-k via TopKAgg. */
  private[operators] def rerankExact(shortlist: DataFrame, queries: DataFrame,
      corpus: DataFrame, topK: Int): DataFrame = {
    val exact = shortlist
      .select($"query_id", $"neighbor_id".as("cand_id"))
      .join(corpus.select($"vid".as("cand_id"), $"qv".as("c_qv"),
        $"nrm".as("c_nrm")), Seq("cand_id"))
      .join(broadcast(queries.select($"vid".as("query_id"), $"qv".as("q_qv"),
        $"nrm".as("q_nrm"))), Seq("query_id"))
      .select($"query_id", $"cand_id",
        cosineQ($"q_qv", $"c_qv", $"q_nrm", $"c_nrm").as("cos"))
    Similarity.rankTopK(exact, topK)
  }

  /** PERSISTED PQ index — codebooks are statistics you train once,
    * not per query batch (the q116/q147 persisted-index story):
    * `build` trains + encodes + writes (codebooks, codes, raw
    * vectors for the exact re-rank); `append` encodes a delta
    * against the FROZEN codebooks (delta-sized writes, no retrain —
    * append ≡ encode-union is PqSpec's pin, since assignment is a
    * deterministic argmax per vector given the codebooks); `probe`
    * broadcasts codebooks + query tables and runs the standard
    * compressed-scan → exact-shortlist-re-rank. The compressed codes
    * table is the only corpus-sized read — 8 bytes/vector instead of
    * raw width, which is the entire point at 100 TB.
    */
  def buildPqIndex(corpus: DataFrame, dir: String, m: Int = 8, k: Int = 16,
      dim: Int = 64, iters: Int = 2, builtBy: Long = -1L): Unit = {
    val spark = corpus.sparkSession
    val cb = trainCodebooks(corpus, m, k, dim, iters)
    // (m, k, dim) are LAYOUT metadata — the index owns them (the
    // stats.buckets principle of buildBm25Index): append and probe
    // read them back, so no caller threads quantization constants
    // through, and a mismatched override can't silently mis-decode.
    // Four disjoint sub-tables → concurrent jobs (ParJobs); the
    // build-commit marker stays LAST — ParJobs awaits every write.
    ParJobs.run(
      () => cb.write.mode("overwrite").parquet(s"$dir/codebooks"),
      () => spark.createDataFrame(Seq((m, k, dim))).toDF("m", "k", "dim")
        .write.mode("overwrite").parquet(s"$dir/meta"),
      () => encode(corpus, cb, m, dim).write.mode("overwrite").parquet(s"$dir/codes"),
      () => corpus.select($"vid", $"qv", $"nrm")
        .write.mode("overwrite").parquet(s"$dir/vectors"))
    graft.streaming.BatchLog.writeBuiltMarker(spark, dir, builtBy)
  }

  /** Read the (m, k, dim) a PQ index was built with (recorded in
    * `meta` by [[buildPqIndex]]).
    */
  private def indexMeta(spark: org.apache.spark.sql.SparkSession,
      dir: String): (Int, Int, Int) = {
    // driver-side read (TinyParquet): this 1-row layout table was a
    // schema-inference pass + collect JOB on every append/probe
    val Seq(row) = TinyParquet.rows(
      spark.sparkContext.hadoopConfiguration, s"$dir/meta")
    (row.getInteger("m", 0), row.getInteger("k", 0), row.getInteger("dim", 0))
  }

  /** Frozen-codebook delta append into `codes`/`vectors` under `dir`
    * or `stagingPath` ([[IndexMaintenance.writeTarget]]).
    */
  def appendPqIndex(spark: org.apache.spark.sql.SparkSession,
      delta: DataFrame, dir: String,
      stagingPath: Option[String] = None): Unit = {
    // the index owns its quantization layout: read it back, never
    // trust a caller to re-pass it
    val (m, _, dim) = indexMeta(spark, dir)
    val cb = TinyParquet.read(spark, s"$dir/codebooks")
    val (root, mode) = IndexMaintenance.writeTarget(dir, stagingPath)
    // disjoint sub-tables → concurrent jobs (the appendLmCounts
    // ParJobs rationale: overlap the per-write job floors)
    ParJobs.run(
      () => encode(delta, cb, m, dim).write.mode(mode).parquet(s"$root/codes"),
      () => delta.select($"vid", $"qv", $"nrm")
        .write.mode(mode).parquet(s"$root/vectors"))
  }

  def pqProbeIndexed(spark: org.apache.spark.sql.SparkSession, dir: String,
      queries: DataFrame, topK: Int,
      shortlistFactor: Int = 8): DataFrame = {
    val (m, k, dim) = indexMeta(spark, dir)
    val cb = TinyParquet.read(spark, s"$dir/codebooks")
    val enc = TinyParquet.read(spark, s"$dir/codes")
    val vectors = TinyParquet.read(spark, s"$dir/vectors")
    val qt = queryTables(queries, cb, m, k, dim)
      .select($"vid".as("q_vid"), $"qtab", $"nrm".as("q_nrm"))
    val denom = $"q_nrm" * $"nrm"
    val scored = enc.join(broadcast(qt))
      .filter($"q_vid" =!= $"vid")
      .select($"q_vid".as("query_id"), $"vid".as("cand_id"),
        when(denom === lit(0d), lit(Double.NaN))
          .otherwise(PqAdcScore.pq_adc($"codes", $"qtab", k).cast("double") / denom)
          .as("cos"))
    rerankExact(Similarity.rankTopK(scored, topK * shortlistFactor),
      queries, vectors, topK)
  }

  /** IVF-PQ with RESIDUAL encoding — the full 100 TB retrieval stack:
    * the coarse quantizer prunes the search to `nProbe` cells per
    * query (cell equi-join, exactly IVF's shape), each member stores
    * the PQ codes of its RESIDUAL `x − centroid(cell)` (residuals are
    * tighter than raw vectors, so the same 8 codes quantize less
    * error — the standard IVF-PQ refinement), the ADC lookup-sum
    * scores `dot(q, c) + dot(q, residual̂)` with `dot(q, c)` exact per
    * probe row, and the exact re-rank touches just the shortlist.
    * Every stage is either a broadcast (centroids, codebooks, query
    * tables) or a key-partitioned join; nothing scales with
    * corpus × queries. All arithmetic stays integer (residuals are
    * differences of quantized vectors), so results remain
    * bit-deterministic.
    */
  def ivfAdcTopK(queries: DataFrame, corpus: DataFrame, topK: Int,
      nProbe: Int = 3, m: Int = 8, k: Int = 16, dim: Int = 64,
      centroidStride: Int = 50, trainIters: Int = 2, pqIters: Int = 2,
      shortlistFactor: Int = 8): DataFrame = {
    import graft.functions.QSub.qsub
    val centroids = Similarity.coarseCentroids(corpus, centroidStride, dim, trainIters)
    // member residuals vs their own cell's centroid (cellsFor keeps
    // the raw vector; the broadcast centroid join supplies c_qv)
    val residuals = Similarity.cellsFor(corpus, centroids, 1, "m_")
      .join(centroids, Seq("cid"))
      .select($"m_vid".as("vid"), qsub($"m_qv", $"c_qv").as("qv"),
        $"m_nrm".as("nrm"), $"cid")
    val cb = trainCodebooks(residuals, m, k, dim, pqIters)
    val enc = encode(residuals, cb, m, dim)
      .join(residuals.select($"vid", $"cid"), Seq("vid"))
    // probes carry the raw query vector; dot(q, c) is exact per
    // (query, probed cell) and rides the probe row
    val probes = Similarity.cellsFor(queries, centroids, nProbe, "q_")
      .join(centroids, Seq("cid"))
      .select($"q_vid", $"cid", dotQ($"q_qv", $"c_qv").as("qc_dot"))
    // ADC tables tabulate dot(q_sub, residual-codebook entry) — RAW
    // query subvectors against the residual codebooks
    val qt = queryTables(queries, cb, m, k, dim)
      .select($"vid".as("q_vid"), $"qtab", $"nrm".as("q_nrm"))
    val denom = $"q_nrm" * $"nrm"
    // a member lives in exactly one cell and probe cells are distinct,
    // so (query, candidate) pairs are already unique — no distinct
    val scored = probes.join(enc, Seq("cid"))
      .filter($"q_vid" =!= $"vid")
      .join(broadcast(qt), Seq("q_vid"))
      .select($"q_vid".as("query_id"), $"vid".as("cand_id"),
        when(denom === lit(0d), lit(Double.NaN))
          .otherwise(($"qc_dot" + PqAdcScore.pq_adc($"codes", $"qtab", k))
            .cast("double") / denom)
          .as("cos"))
    rerankExact(Similarity.rankTopK(scored, topK * shortlistFactor),
      queries, corpus, topK)
  }
}
