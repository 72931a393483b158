package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.syntax._

/** Deduplication operators for the large-scale pipeline extensions:
  * exact (content-hash groupBy), n-gram Jaccard (exact set overlap),
  * MinHash+LSH (banded signatures → candidate pairs → exact verify),
  * SimHash (64-bit sketch + pigeonhole chunk blocking).
  *
  * Scale design: every stage is a groupBy/join on a key that
  * partitions well. The MinHash path never materializes the O(n²)
  * pair space — candidates come from band-bucket joins, which at
  * 100 TB is the difference between feasible and not. The exact-verify
  * join touches only candidate pairs.
  */
object Dedup {

  /** Exact dedup: keep the smallest id per identical content. */
  def exactDedup(df: DataFrame, idCol: String, contentCol: String): DataFrame =
    df.groupBy(col(contentCol))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_copies"))

  /** (id, shingle-hash) pairs — distinct word n-gram shingles per doc,
    * keyed by their 64-bit murmur hash: long join keys shuffle a
    * fraction of the bytes of the raw strings and compare in one
    * instruction. Injective in practice (collision odds ~n²/2^65).
    * Single-pass native expression ([[graft.functions.ShingleHash64]]);
    * the transform/array_distinct lambda chain computes the same set
    * ~5× slower (pinned equivalent in DedupSpec).
    */
  def shingles(df: DataFrame, idCol: String, textCol: String, n: Int): DataFrame =
    df.select(col(idCol).as("doc"),
        explode(graft.functions.ShingleHash64.shingle_hashes(col(textCol), n)).as("h"))

  /** Per-doc SORTED shingle-hash array — one narrow map-side row per
    * doc. This is the frame worth reusing across dedup stages: sizes
    * are `size(hs)`, the inverted index is one explode away, and exact
    * verification is a per-pair sorted merge — no shuffled
    * shingle-level state anywhere.
    */
  def docShingles(df: DataFrame, idCol: String, textCol: String, n: Int): DataFrame =
    df.select(col(idCol).as("doc"),
      sort_array(graft.functions.ShingleHash64.shingle_hashes(col(textCol), n)).as("hs"))

  /** Exact n-gram Jaccard similar pairs (a < b, jaccard >= threshold),
    * via PREFIX FILTERING (the PPJoin-family bound, Xiao et al.,
    * WWW'08 — public algorithm): order every doc's shingles by a
    * global canonical order (document frequency asc, hash asc — i.e.
    * rarest first); any two sets with jaccard >= t MUST share a
    * shingle inside each other's first `sz - ceil(t·sz) + 1` shingles
    * under that order. So the inverted index is built over prefixes
    * only, and candidates are exact-verified against the full sets —
    * output is provably identical to the naive all-shared-shingle
    * join (pinned in DedupSpec).
    *
    * This is what makes the exact path corpus-scale-safe: a stopword
    * shingle appearing in f docs contributes f² join rows to a naive
    * inverted index, but rarest-first prefixes index a hot shingle
    * only for docs whose ENTIRE prefix is hot — bucket occupancy
    * drops from max-df to near the candidate count (occupancy bound
    * pinned in DedupSpec).
    */
  def ngramJaccardPairs(df: DataFrame, idCol: String, textCol: String,
      n: Int, threshold: Double): DataFrame = {
    val docsh = docShingles(df, idCol, textCol, n)
    val sh = docsh.select($"doc", explode($"hs").as("h"))
    val sizes = docsh.select($"doc", size($"hs").cast("long").as("sz"))
    val prefix = prefixIndex(sh, sizes, threshold)
    // GUARD (QuadraticGuard): same two-tier pricing as
    // [[ngramContainmentPairs]] — the candidate self-join streams
    // Σ_h C(|prefix_h|, 2) rows before the length/positional filters
    // prune, and a duplicate-heavy corpus grows every prefix bucket
    // by the duplication factor d (identical texts share identical
    // prefixes), so candidate volume grows d². Tier 1 is a free
    // row-count prescreen; only past it the exact volume is priced
    // with ONE linear aggregation over prefix-bucket sizes. Over the
    // bound the call refuses, naming the collapse-first twin that
    // removes the d² factor by construction.
    val guardBound = QuadraticGuard.maxPairs(df.sparkSession)
    if (guardBound > 0) {
      val nRows = df.count().toDouble
      if (nRows * nRows / 2 > guardBound) {
        QuadraticGuard.check(df.sparkSession, "Dedup.ngramJaccardPairs",
          prefix.groupBy($"h").agg(count(lit(1)).as("c"))
            .agg(coalesce(sum($"c" * ($"c" - 1L)), lit(0L)))
            .head().getLong(0).toDouble / 2.0,
          s"exact prefix self-join candidate volume at n=$n-gram, t=$threshold",
          "Dedup.collapsedJaccardPairs / Dedup.collapsedClusterReps " +
            "(output-identical, collapse duplicate contents before the " +
            "pair join)")
      }
    }
    verifyJaccardArrays(candidatePairs(prefix, threshold), docsh, threshold)
  }

  /** Candidate pairs from a [[prefixIndex]] frame, with BOTH PPJoin
    * bounds (Xiao et al., WWW'08):
    *
    *  - LENGTH filter: jaccard >= t forces t·max(sa,sb) <= min(sa,sb),
    *    so size-skewed pairs are dropped before the distinct/verify.
    *  - POSITIONAL filter: a prefix token matching at canonical
    *    positions (i, j) bounds the overlap by 1 + min(sa-i, sb-j);
    *    if that bound is below the equivalent-overlap threshold
    *    α = ⌈t/(1+t)·(sa+sb)⌉ the co-occurrence cannot witness a true
    *    pair. A true pair always passes at its FIRST shared canonical
    *    token, so keeping pairs with any passing co-occurrence loses
    *    nothing (output identity is pinned in DedupSpec + the q31
    *    oracle); what it prunes is deep-prefix-only collisions, the
    *    candidate tail that grows with prefix length at corpus scale.
    */
  private[graft] def candidatePairs(prefix: DataFrame, threshold: Double,
      positional: Boolean = true): DataFrame = {
    val lengthOk = col("x.sz") * threshold <= col("y.sz") &&
      col("y.sz") * threshold <= col("x.sz")
    val posOk =
      if (!positional) lit(true)
      else {
        // -1e-9: guard the double product against landing epsilon
        // ABOVE an exact integer α (ceil would then overshoot by 1 and
        // drop a boundary-true pair)
        val alpha = ceil((col("x.sz") + col("y.sz")) *
          lit(threshold / (1.0 + threshold)) - lit(1e-9))
        lit(1) + least(col("x.sz") - col("x.rn"), col("y.sz") - col("y.rn")) >= alpha
      }
    prefix.as("x").join(prefix.as("y"),
        col("x.h") === col("y.h") && col("x.doc") < col("y.doc") &&
          lengthOk && posOk)
      .select(col("x.doc").as("a"), col("y.doc").as("b"))
      .distinct()
  }

  /** Rarest-first prefix of each doc's shingle set (see
    * [[ngramJaccardPairs]]): the first `sz - ceil(t·sz) + 1` shingles
    * under the global (df asc, h asc) order, with each token's
    * canonical position `rn` kept for the positional filter.
    */
  private[graft] def prefixIndex(sh: DataFrame, sizes: DataFrame,
      threshold: Double): DataFrame = {
    val freq = sh.groupBy($"h").agg(count(lit(1)).as("df_"))
    val w = Window.partitionBy($"doc").orderBy($"df_", $"h")
    sh.join(freq, "h")
      .withColumn("rn", row_number().over(w).cast("long"))
      .join(sizes, "doc")
      .filter($"rn" <= $"sz" - ceil($"sz" * threshold) + 1)
      .select($"doc", $"h", $"sz", $"rn")
  }

  /** Exact jaccard over candidate pairs only: two doc-keyed joins
    * attach each side's sorted shingle ARRAY, then intersection size
    * is one linear merge per pair
    * ([[graft.functions.SortedIntersectCount]]) — fully inside
    * codegen. Shared by the exact prefix path and the minhash-LSH path
    * (both always verify on FULL sets). The exploded alternative
    * (shingle equi-join + count) shuffles |pair|·|set| rows; this
    * shuffles |pairs| + 2·|docs|.
    */
  private[graft] def verifyJaccardArrays(cands: DataFrame, docsh: DataFrame,
      threshold: Double): DataFrame =
    verifyJaccardTwoSided(cands, docsh, docsh, threshold)

  /** [[verifyJaccardArrays]] with distinct shingle frames per pair
    * side — the cross-corpus (`a` from one table, `b` from another)
    * variant, where the two id spaces may overlap.
    */
  private[graft] def verifyJaccardTwoSided(cands: DataFrame, ash: DataFrame,
      bsh: DataFrame, threshold: Double): DataFrame =
    cands
      .join(ash.select($"doc".as("a"), $"hs".as("x_hs")), "a")
      .join(bsh.select($"doc".as("b"), $"hs".as("y_hs")), "b")
      .withColumn("i", graft.functions.SortedIntersectCount
        .sorted_intersect_count($"x_hs", $"y_hs"))
      .withColumn("jaccard",
        $"i".cast("double") / (size($"x_hs") + size($"y_hs") - $"i"))
      .filter($"jaccard" >= threshold)
      .select($"a", $"b", $"jaccard")

  /** Exact n-gram CONTAINMENT pairs (a ≠ b, both orientations):
    * C(a→b) = |Sa ∩ Sb| / |Sa| ≥ t — the ASYMMETRIC near-dup
    * relation Jaccard structurally misses when |Sb| ≫ |Sa| (a doc
    * quoted inside a scrape, boilerplate-wrapped articles,
    * concatenated shards: jaccard ≈ sa/sb → 0 while containment = 1).
    *
    * Scale path is the one-sided prefix-filter bound (the asymmetric
    * member of the PPJoin family, Xiao et al., WWW'08): a qualifying
    * pair must share a token within A's first sa − ⌈t·sa⌉ + 1
    * canonical (rarest-first) tokens — the SAME prefix length as the
    * jaccard path, so [[prefixIndex]] is reused verbatim — against
    * B's FULL postings. The probe side is prefix-bounded (hot tokens
    * index only docs whose entire prefix is hot); the build side is
    * the plain postings list, filtered by the containment positional
    * bound: a co-occurrence at canonical positions (i, j) witnesses
    * overlap ≤ 1 + min(sa−i, sb−j), which must reach α = ⌈t·sa⌉, and
    * sb ≥ α outright. Candidates are exact-verified on full sorted
    * arrays (one linear merge per pair, same shuffle shape as
    * [[verifyJaccardArrays]]). Output identity vs the naive
    * all-shared-shingle join is pinned in DedupSpec; the q165 oracle
    * re-derives every pair + value in SQL.
    */
  def ngramContainmentPairs(df: DataFrame, idCol: String, textCol: String,
      n: Int, threshold: Double): DataFrame = {
    val docsh = docShingles(df, idCol, textCol, n)
    val sh = docsh.select($"doc", explode($"hs").as("h"))
    val sizes = docsh.select($"doc", size($"hs").cast("long").as("sz"))
    val prefix = prefixIndex(sh, sizes, threshold)
    val freq = sh.groupBy($"h").agg(count(lit(1)).as("df_"))
    // GUARD (QuadraticGuard): the candidate join below produces
    // Σ_h |prefix_h|·|postings_h| rows before the positional/size
    // predicates prune — on a duplicate-heavy corpus every posting
    // count carries the d² duplication blowup (the sf10 disk-filler;
    // d = docs per unique content). Two tiers so gate-SF corpora pay
    // ~nothing: a row-count prescreen (no corpus under √(2·bound)
    // rows can exceed the bound by more than prefix multiplicity),
    // and only past it the exact candidate volume — ONE linear
    // aggregation (prefix ⋈ freq, summed) against the potentially-
    // quadratic join it prices. Over the bound the call refuses,
    // naming the collapse-first twin that removes the d² factor by
    // construction.
    val guardBound = graft.operators.QuadraticGuard.maxPairs(df.sparkSession)
    if (guardBound > 0) {
      val nRows = df.count().toDouble
      if (nRows * nRows / 2 > guardBound) {
        graft.operators.QuadraticGuard.check(df.sparkSession,
          "Dedup.ngramContainmentPairs",
          prefix.join(freq, "h")
            .agg(coalesce(sum($"df_"), lit(0L))).head().getLong(0).toDouble,
          s"exact prefix-filtered candidate volume at n=$n-gram, t=$threshold",
          "Dedup.collapsedContainmentPairs (output-identical, collapses " +
            "duplicate contents before the pair join)")
      }
    }
    val w = Window.partitionBy($"doc").orderBy($"df_", $"h")
    val full = sh.join(freq, "h")
      .withColumn("rn", row_number().over(w).cast("long"))
      .join(sizes, "doc")
      .select($"doc", $"h", $"sz", $"rn")
    // α = ⌈t·sa⌉ with the same epsilon guard as candidatePairs: the
    // double product must not land epsilon above an exact integer
    val alpha = ceil(col("x.sz") * lit(threshold) - lit(1e-9))
    val cands = prefix.as("x").join(full.as("y"),
        col("x.h") === col("y.h") && col("x.doc") =!= col("y.doc") &&
          col("y.sz") >= alpha &&
          lit(1) + least(col("x.sz") - col("x.rn"), col("y.sz") - col("y.rn")) >= alpha)
      .select(col("x.doc").as("a"), col("y.doc").as("b"))
      .distinct()
    cands
      .join(docsh.select($"doc".as("a"), $"hs".as("x_hs")), "a")
      .join(docsh.select($"doc".as("b"), $"hs".as("y_hs")), "b")
      .withColumn("i", graft.functions.SortedIntersectCount
        .sorted_intersect_count($"x_hs", $"y_hs"))
      .withColumn("containment", $"i".cast("double") / size($"x_hs"))
      .filter($"containment" >= threshold)
      .select($"a", $"b", $"containment")
  }

  /** Production-scale composition of exact + near dedup: collapse
    * exact duplicates FIRST, run the similarity join on unique
    * contents only, then expand pairs back through group membership.
    * Output is provably identical to [[ngramJaccardPairs]] over the
    * full corpus (pinned in DedupSpec and by sharing q31's oracle):
    * identical texts have identical shingle sets, so (a) every
    * intra-group pair of shingled docs has jaccard exactly 1.0 ≥ t,
    * (b) a cross-group pair's jaccard equals its representatives'
    * jaccard, and (c) docs whose shingle set is EMPTY (shorter than n
    * words) never pair under the direct join (0/0 similarity is null)
    * and are excluded from the expansion the same way.
    *
    * Why this is the 100 TB shape: web-crawl corpora are majority
    * exact-duplicate, and the sf10 scale run measured the cost of
    * ignoring that — a duplication factor d multiplies the direct
    * join's candidate space by d² (the pair OUTPUT grows d²
    * inherently, but so did the join's internal work). Collapsing
    * first shrinks the similarity join's input by d and its candidate
    * space by d², leaving two cheap group-key equi-joins to
    * re-materialize the required pairs.
    *
    * Grouping is by 64-bit content hash, not raw text: the shuffle
    * then moves 8-byte keys instead of documents. Injective in
    * practice (the [[shingles]] collision argument, ~n²/2^65); the
    * raw-text-grouping oracle would surface a collision at the gate.
    */
  def collapsedJaccardPairs(df: DataFrame, idCol: String, textCol: String,
      n: Int, threshold: Double): DataFrame = {
    val docs = df.select(col(idCol).as("doc"), col(textCol).as("txt"))
    val member = docs.select($"doc", xxhash64($"txt").as("g"))
    // one representative text per distinct content; members of a group
    // share the text byte-for-byte, so first() is value-deterministic
    val reps = docs.groupBy(xxhash64($"txt").as("g"))
      .agg(min($"doc").as("rep"), first($"txt").as("txt"))
    val repPairs = ngramJaccardPairs(reps, "rep", "txt", n, threshold)
    // intra-group: all (a < b) pairs among copies of one shingled
    // content, jaccard exactly 1.0 (identical non-empty sets)
    val shingled = reps
      .filter(size(graft.functions.ShingleHash64.shingle_hashes($"txt", n)) > 0)
      .select($"g")
    val mNE = member.join(shingled, "g")
    val intra = mNE.as("m1")
      .join(mNE.as("m2"),
        col("m1.g") === col("m2.g") && col("m1.doc") < col("m2.doc"))
      .select(col("m1.doc").as("a"), col("m2.doc").as("b"),
        lit(1.0).as("jaccard"))
    // cross-group: route each rep pair back to both member sets; group
    // ids of distinct groups interleave, so order each pair explicitly
    val repKey = reps.select($"rep", $"g")
    val cross = repPairs
      .join(repKey.select($"rep".as("a"), $"g".as("ga")), "a")
      .join(repKey.select($"rep".as("b"), $"g".as("gb")), "b")
      .join(member.select($"doc".as("ida"), $"g".as("ga")), "ga")
      .join(member.select($"doc".as("idb"), $"g".as("gb")), "gb")
      .select(least($"ida", $"idb").as("a"),
        greatest($"ida", $"idb").as("b"), $"jaccard")
    intra.unionAll(cross)
  }

  /** Collapse-first [[ngramContainmentPairs]] — the production form:
    * the direct containment join's output (and internal candidate
    * space) grows d² with the corpus duplication factor d, and the
    * sf10 scale run measured the consequence (the direct form filled
    * the spill disk on the 100x-replicated corpus). Collapsing by
    * 64-bit content hash first runs the asymmetric prefix join on
    * UNIQUE contents, then re-expands through group membership —
    * provably output-identical: identical texts have identical
    * shingle sets, so intra-group ORDERED pairs (a ≠ b, both
    * orientations — containment is asymmetric) have containment
    * exactly 1.0, and a cross-group ordered pair's containment
    * C(a→b) = |Sa∩Sb|/|Sa| depends only on the two CONTENTS, i.e.
    * equals its representatives'. Docs with empty shingle sets never
    * pair under either form. Pinned in DedupSpec + by sharing q165's
    * oracle.
    */
  def collapsedContainmentPairs(df: DataFrame, idCol: String, textCol: String,
      n: Int, threshold: Double): DataFrame = {
    val docs = df.select(col(idCol).as("doc"), col(textCol).as("txt"))
    val member = docs.select($"doc", xxhash64($"txt").as("g"))
    val reps = docs.groupBy(xxhash64($"txt").as("g"))
      .agg(min($"doc").as("rep"), first($"txt").as("txt"))
    val repPairs = ngramContainmentPairs(reps, "rep", "txt", n, threshold)
    // intra-group: all ORDERED pairs among copies of one shingled
    // content — containment exactly 1.0 both ways
    val shingled = reps
      .filter(size(graft.functions.ShingleHash64.shingle_hashes($"txt", n)) > 0)
      .select($"g")
    val mNE = member.join(shingled, "g")
    val intra = mNE.as("m1")
      .join(mNE.as("m2"),
        col("m1.g") === col("m2.g") && col("m1.doc") =!= col("m2.doc"))
      .select(col("m1.doc").as("a"), col("m2.doc").as("b"),
        lit(1.0).as("containment"))
    // cross-group: orientation is carried by the rep pair itself —
    // (a-member, b-member) keeps the rep pair's direction and value
    val repKey = reps.select($"rep", $"g")
    val cross = repPairs
      .join(repKey.select($"rep".as("a"), $"g".as("ga")), "a")
      .join(repKey.select($"rep".as("b"), $"g".as("gb")), "b")
      .join(member.select($"doc".as("ida"), $"g".as("ga")), "ga")
      .join(member.select($"doc".as("idb"), $"g".as("gb")), "gb")
      .select($"ida".as("a"), $"idb".as("b"), $"containment")
    intra.unionAll(cross)
  }

  /** Shared collapse machinery for cluster-level dedup: group docs by
    * 64-bit content hash, run clustering on one REPRESENTATIVE per
    * distinct content, and label every participating group with its
    * member-level cluster id. `rep = min(doc_id)` per group is what
    * makes rep-level results equal member-level ones: every member of
    * a group is connected to every other (identical shingle sets,
    * jaccard exactly 1), a cross-group member edge exists iff the rep
    * edge exists (members share their rep's text), and the min doc of
    * a member component is therefore the min of its group minima —
    * the min of its reps, which is exactly what [[clusterReps]] over
    * rep pairs converges to. Participating groups: rep has a near-dup
    * edge, OR the group holds >=2 shingled copies (the intra-group
    * clique is edges enough); singleton edgeless groups and
    * shingle-less docs never pair under the direct graph either.
    *
    * Returns (member, gLabel) where member = (doc, g) for every doc
    * and gLabel = (g, rep, nc, cluster_rep) for participating groups.
    */
  private def collapsedGroupLabels(df: DataFrame, idCol: String,
      textCol: String, n: Int, threshold: Double): (DataFrame, DataFrame) = {
    val docs = df.select(col(idCol).as("doc"), col(textCol).as("txt"))
    val member = docs.select($"doc", xxhash64($"txt").as("g"))
    val reps = docs.groupBy(xxhash64($"txt").as("g"))
      .agg(min($"doc").as("rep"), first($"txt").as("txt"),
        count(lit(1)).as("nc"))
    val repPairs = ngramJaccardPairs(reps, "rep", "txt", n, threshold)
    val repLabels = clusterReps(repPairs).withColumnRenamed("doc", "rep")
    val gLabel = reps
      .filter(size(graft.functions.ShingleHash64.shingle_hashes($"txt", n)) > 0)
      .join(repLabels, Seq("rep"), "left")
      .filter($"cluster_rep".isNotNull || $"nc" >= 2)
      .select($"g", $"rep", $"nc",
        coalesce($"cluster_rep", $"rep").as("cluster_rep"))
    (member, gLabel)
  }

  /** [[clusterReps]] over [[ngramJaccardPairs]], computed collapse-
    * first (see [[collapsedJaccardPairs]] for why at 100 TB):
    * connected components run on unique contents only; members
    * inherit their group's label. Output identical to the direct
    * pipeline (q44's oracle gates it).
    */
  def collapsedClusterReps(df: DataFrame, idCol: String, textCol: String,
      n: Int, threshold: Double): DataFrame = {
    val (member, gLabel) = collapsedGroupLabels(df, idCol, textCol, n, threshold)
    member.join(gLabel.select($"g", $"cluster_rep"), "g")
      .select($"doc", $"cluster_rep")
  }

  /** Collapse-first [[clusterKeepBest]] for CONTENT-DERIVED scores
    * (`scoreOfText` maps the text column to the score): scores are
    * then constant within an exact-dup group, so the member-level
    * argmax (max score, min doc on ties) is attained at a group
    * minimum — a rep — and the per-cluster reduction runs over groups
    * instead of members, with `n_docs` as a sum of group sizes. An
    * arbitrary per-doc score frame (not a function of content) would
    * NOT collapse; that variant stays on [[clusterKeepBest]].
    */
  def collapsedClusterKeepBest(df: DataFrame, idCol: String, textCol: String,
      n: Int, threshold: Double, scoreOfText: Column => Column): DataFrame = {
    val (_, gLabel) = collapsedGroupLabels(df, idCol, textCol, n, threshold)
    val docs = df.select(col(idCol).as("doc"), col(textCol).as("txt"))
    val gScore = docs.groupBy(xxhash64($"txt").as("g"))
      .agg(first(scoreOfText($"txt")).as("score"))
    gLabel.join(gScore, "g")
      .groupBy($"cluster_rep")
      .agg(
        max(struct($"score", (-$"rep").as("nd"))).as("best"),
        sum($"nc").as("n_docs"))
      .select($"cluster_rep", (-$"best.nd").as("keep_doc"),
        $"best.score".as("keep_score"), $"n_docs")
  }

  /** MinHash signatures: one row per doc with a k-slot `sig` array —
    * a single map-side pass ([[graft.functions.MinHashSig]] over the
    * doc's shingle-hash set), no explode, no shuffle. The signature of
    * a 100 TB corpus is one narrow scan.
    */
  def minhashSignatures(df: DataFrame, idCol: String, textCol: String,
      n: Int, k: Int): DataFrame =
    df.select(col(idCol).as("doc"),
      graft.functions.MinHashSig.minhash_sig(
        graft.functions.ShingleHash64.shingle_hashes(col(textCol), n), k).as("sig"))

  /** LSH candidate pairs from banded signatures (bands × rowsPerBand =
    * k). Docs matching in any band become candidates. P(candidate) =
    * 1-(1-j^r)^b — with b=32, r=4 a jaccard-0.8 pair is missed with
    * probability < 5e-8. The join is keyed on (band, bucket): shuffle
    * size is rows×bands, never pairs.
    */
  def lshCandidates(sigs: DataFrame, bands: Int, rowsPerBand: Int): DataFrame = {
    val br = bandRows(sigs, bands, rowsPerBand)
    br.as("x").join(br.as("y"),
        col("x.band") === col("y.band") && col("x.bucket") === col("y.bucket") &&
          col("x.doc") < col("y.doc"))
      .select(col("x.doc").as("a"), col("y.doc").as("b"))
      .distinct()
  }

  /** Full MinHash-LSH near-dup pipeline with exact verification:
    * shingle → sign → band → candidate → exact jaccard filter.
    * Output equals [[ngramJaccardPairs]] up to the (negligible) LSH
    * miss probability, at a fraction of the join cost on large n.
    *
    * `maxDocFreq` (the hot-bucket knob from SCALE.md): shingles
    * appearing in more than that many docs are excluded from
    * SIGNATURES only — ultra-common shingles (boilerplate, stopword
    * runs) otherwise glue unrelated docs into the same band buckets
    * and quadratically blow up candidate counts at corpus scale.
    * Verification still uses the full shingle sets, so emitted pairs
    * keep their exact jaccard; only candidate recall depends on the
    * rare-shingle overlap (near-dups share mostly rare shingles).
    */
  def minhashDedupPairs(df: DataFrame, idCol: String, textCol: String,
      n: Int, threshold: Double, k: Int = 128, bands: Int = 32,
      maxDocFreq: Option[Int] = None): DataFrame = {
    require(k % bands == 0,
      s"signature length k=$k must be divisible by bands=$bands — " +
        "otherwise the trailing k % bands slots are silently ignored and " +
        "recall drops below the documented 1-(1-j^r)^b bound")
    val docsh = docShingles(df, idCol, textCol, n)
    val sigs = maxDocFreq match {
      case None =>
        minhashSignatures(df, idCol, textCol, n, k)
      case Some(cap) =>
        // signatures over the rare-shingle subset only
        val sh = docsh.select($"doc", explode($"hs").as("h"))
        val rare = sh.groupBy($"h").agg(count(lit(1)).as("df_"))
          .filter($"df_" <= cap).select($"h")
        sh.join(rare, "h")
          .groupBy($"doc").agg(collect_list($"h").as("hs"))
          .select($"doc", graft.functions.MinHashSig.minhash_sig($"hs", k).as("sig"))
    }
    // GUARD (QuadraticGuard): LSH removes the all-shared-shingle pair
    // join but NOT the d² duplication blowup — identical texts have
    // identical signatures, so a content duplicated d times puts d
    // rows in the same bucket of every band: candidate volume
    // Σ_{band,bucket} C(|bucket|, 2) grows d² exactly like the exact
    // path's. Same two-tier shape: free row-count prescreen, then the
    // exact bucket-volume price as ONE linear aggregation. Signatures
    // are localCheckpoint'd first so the (linear, dominant) minhash
    // pass is paid once — the guard agg and the candidate join both
    // read the materialized frame, which is also the 100 TB posture
    // (signatures persist; raw text is scanned once).
    val guardBound = QuadraticGuard.maxPairs(df.sparkSession)
    val sigsG =
      if (guardBound > 0 && {
        val nRows = df.count().toDouble; nRows * nRows / 2 > guardBound
      }) {
        val ck = sigs.localCheckpoint()
        QuadraticGuard.check(df.sparkSession, "Dedup.minhashDedupPairs",
          bandRows(ck, bands, k / bands)
            .groupBy($"band", $"bucket").agg(count(lit(1)).as("c"))
            .agg(coalesce(sum($"c" * ($"c" - 1L)), lit(0L)))
            .head().getLong(0).toDouble / 2.0,
          s"LSH band-bucket candidate volume at bands=$bands, r=${k / bands}",
          "Dedup.collapsedJaccardPairs / Dedup.collapsedClusterReps " +
            "(collapse-first twins), or maxDocFreq to cap hot shingles")
        ck
      } else sigs
    val cands = lshCandidates(sigsG, bands, k / bands)
    // exact verify on candidates only — always over the FULL shingle sets
    verifyJaccardArrays(cands, docsh, threshold)
  }

  /** Banded (doc, band, bucket) rows for one side of an LSH join. */
  private def bandRows(sigs: DataFrame, bands: Int, rowsPerBand: Int): DataFrame =
    sigs.select($"doc",
        posexplode(graft.functions.BandBuckets.band_buckets($"sig", bands, rowsPerBand)))
      .withColumnRenamed("pos", "band")
      .withColumnRenamed("col", "bucket")

  /** Incremental (delta-vs-corpus) near-dup detection — the everyday
    * shape of dedup at 100 TB: the new crawl batch is small relative
    * to the standing corpus, and the question is linear ("which NEW
    * docs duplicate something we already hold"), so re-running
    * all-pairs dedup over corpus∪delta would pay the corpus's
    * quadratic candidate work for nothing. Both sides are banded
    * ([[minhashSignatures]] — the corpus side is one narrow map-side
    * scan, persistable across deltas) and the candidate join is keyed
    * (band, bucket) BATCH×CORPUS only: the corpus never self-joins,
    * so candidate volume scales with the delta, not the corpus.
    * Verification is exact jaccard over full shingle sets, two-sided
    * because the id spaces are distinct tables and may overlap.
    *
    * Returns (a = batch doc, b = corpus doc, jaccard ≥ threshold):
    * the anti-join of the batch against `select(a)` is the keep-set.
    */
  def incrementalDedupPairs(batch: DataFrame, corpus: DataFrame,
      idCol: String, textCol: String, n: Int, threshold: Double,
      k: Int = 128, bands: Int = 32): DataFrame = {
    require(k % bands == 0,
      s"signature length k=$k must be divisible by bands=$bands")
    val bBand = bandRows(minhashSignatures(batch, idCol, textCol, n, k), bands, k / bands)
    val cBand = bandRows(minhashSignatures(corpus, idCol, textCol, n, k), bands, k / bands)
    val cands = bBand.as("x").join(cBand.as("y"),
        col("x.band") === col("y.band") && col("x.bucket") === col("y.bucket"))
      .select(col("x.doc").as("a"), col("y.doc").as("b"))
      .distinct()
    verifyJaccardTwoSided(cands,
      docShingles(batch, idCol, textCol, n),
      docShingles(corpus, idCol, textCol, n), threshold)
  }

  /** PERSISTED INCREMENTAL NEAR-DUP INDEX — [[incrementalDedupPairs]]
    * made a standing structure (the dedup member of the streaming
    * index matrix): every ingested batch's banded LSH postings and
    * exact-verify shingle sets live on disk, so "does this new
    * document near-dup anything we already hold" is answered against
    * the INDEX — the standing corpus is never rescanned, let alone
    * re-shingled or re-banded, and probe cost follows the probe.
    *
    * COLLAPSE-FIRST BY CONTENT HASH (the [[LangModel]] posture —
    * measured necessity, not taste: the doc-keyed first cut of this
    * index OOM'd at sf100, where 1000×-replicated content makes
    * doc-keyed candidates quadratic in duplication; postings and
    * sets keyed by `xxhash64(text)` make candidate generation and the
    * exact verify follow UNIQUE content, with document membership a
    * separate additive table fanning results back out):
    *  - `dir/bands` — (kh, band, bucket) LSH postings per unique
    *    text, disk-partitioned by `band` and bucket-sorted within
    *    files ([[nearDupScreenIndexed]] prunes on it)
    *  - `dir/sets`  — (kh, hs) sorted shingle-hash arrays
    *  - `dir/docs`  — (kh, doc) membership rows
    *  - `dir/meta`  — (n, k, bands): the index OWNS its layout
    *    constants (the buildPqIndex principle) — the first append
    *    writes them, every later one verifies and REFUSES a mismatch.
    * Content-hash collisions follow the [[LangModel.hashCollisions]]
    * audit argument (~n²/2^65 over unique texts; the raw-text oracle
    * would surface one at the gate).
    *
    * A text seen in several batches holds one (kh, band/set) row per
    * batch — probes de-duplicate by kh on read (compaction folds the
    * copies); `docs` rows are unique by construction (doc ids don't
    * repeat across batches). All tables are row-ADDITIVE (no build
    * phase): a probe against batch-accumulated segments equals the
    * one-shot [[incrementalDedupPairs]] over the union exactly — the
    * LM-counts contract, which is what lets the q219/q220 gates hold
    * the exact-jaccard oracle verbatim through the streaming applier.
    */
  def appendNearDupIndex(spark: org.apache.spark.sql.SparkSession,
      delta: DataFrame, idCol: String, textCol: String, dir: String,
      n: Int = 3, k: Int = 128, bands: Int = 32,
      stagingPath: Option[String] = None): Unit = {
    require(k % bands == 0,
      s"signature length k=$k must be divisible by bands=$bands")
    val metaP = new org.apache.hadoop.fs.Path(s"$dir/meta")
    val fs = metaP.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(metaP))
      // layout constants: written DIRECTLY (not staged) — a replayed
      // batch rewrites the identical row, so the write is idempotent
      spark.createDataFrame(Seq((n, k, bands))).toDF("n", "k", "bands")
        .write.mode("overwrite").parquet(metaP.toString)
    else {
      // driver-side meta read (TinyParquet): the per-append Spark read
      // of this 1-row table cost 2 scheduled jobs (measured per phase
      // in r18: ~0.13 s per apply)
      val m = TinyParquet.rows(
        spark.sparkContext.hadoopConfiguration, metaP.toString).head
      val (mn, mk, mb) =
        (m.getInteger("n", 0), m.getInteger("k", 0), m.getInteger("bands", 0))
      require((mn, mk, mb) == ((n, k, bands)),
        s"near-dup index $dir has layout (n=$mn, k=$mk, " +
          s"bands=$mb); refusing an append with (n=$n, k=$k, bands=$bands)")
    }
    val (root, mode) = IndexMaintenance.writeTarget(dir, stagingPath)
    val uniq = delta
      .groupBy(xxhash64(col(textCol)).as("kh"))
      .agg(first(col(textCol)).as("txt"))
    // The bands and sets writes each re-derive the collapse +
    // shingling (two jobs). A shared persisted shingle frame was
    // MEASURED AND REFUSED (r15): MEMORY_AND_DISK-caching the
    // (kh, hs) frame between the two writes re-timed q219 6.42→7.48 s
    // and q221 4.05→5.27 s at sf0.1 — the cache write + codegen break
    // cost more than recomputing a gate-sized delta, and at
    // production the delta is a MICRO-BATCH (the composed dashboard
    // applier already persists the batch rows when the source is
    // expensive — shareScan), so the recompute reads cached rows.
    //
    // bands is PARTITIONED BY band (the members/l1 layout lesson): a
    // reduced-band screen probe ([[nearDupScreenIndexed]]) then reads
    // only bandsProbed/bands of the postings — directory-level
    // partition pruning, visible as PartitionFilters in the scan —
    // and rows are bucket-sorted within each file so row-group stats
    // stay selective after compaction. 32 partition dirs, one file
    // per band per append (the repartition below), bounded by
    // [[compactNearDupIndex]].
    // three disjoint sub-tables → three CONCURRENT jobs (ParJobs, the
    // max-not-sum trick one level down): at micro-batch scale the
    // serial job-launch/commit floors made this the slowest family
    // chain in the composed applier
    ParJobs.run(
      () => {
        val br = bandRows(minhashSignatures(uniq, "kh", "txt", n, k), bands, k / bands)
          .select($"doc".as("kh"), $"band", $"bucket")
        // micro-batch regime (the StreamingIndex.microPlan rule): band
        // rows already on ONE partition (a coalesce(1)'d micro-batch
        // delta) skip the band repartition — one sorted task's dynamic
        // partitioning writes the SAME one-file-per-band layout with
        // zero exchanges; anything multi-partition keeps the
        // repartition so each band still lands as one file. Decided
        // from the PLANNED partitioning: `br.rdd` would run the
        // collapse's shuffle stages under AQE, and the write below
        // would then run them again
        (if (graft.plans.partitions(br).contains(1)) br else br.repartition($"band"))
          .sortWithinPartitions($"band", $"bucket")
          .write.mode(mode).partitionBy("band").parquet(s"$root/bands")
      },
      () => docShingles(uniq, "kh", "txt", n)
        .select($"doc".as("kh"), $"hs")
        .write.mode(mode).parquet(s"$root/sets"),
      () => delta.select(xxhash64(col(textCol)).as("kh"), col(idCol).as("doc"))
        .write.mode(mode).parquet(s"$root/docs"))
  }

  /** The verified UNIQUE-content near-dup pairs of a probe frame
    * against a persisted index: (pkh, ckh, jaccard ≥ threshold, and
    * the collapsed probe's kh→ids on the side). Shared by the pair
    * and decision probes — all candidate and verify work here follows
    * unique content on BOTH sides.
    */
  private def nearDupUniquePairs(spark: org.apache.spark.sql.SparkSession,
      dir: String, probe: DataFrame, idCol: String, textCol: String,
      threshold: Double, bandsProbed: Int = Int.MaxValue,
      pointLookup: Boolean = false): (DataFrame, DataFrame) = {
    // driver-side meta read (TinyParquet): a 1-row layout table, was a
    // schema-inference pass + a head job per probe
    val m = TinyParquet.rows(
      spark.sparkContext.hadoopConfiguration, s"$dir/meta").head
    val (n, k, bnds) =
      (m.getInteger("n", 0), m.getInteger("k", 0), m.getInteger("bands", 0))
    val pUniq = probe
      .groupBy(xxhash64(col(textCol)).as("kh"))
      .agg(first(col(textCol)).as("txt"))
    val pBandAll = bandRows(minhashSignatures(pUniq, "kh", "txt", n, k),
      bnds, k / bnds)
    val pBand =
      if (bandsProbed < bnds) pBandAll.filter($"band" < bandsProbed)
      else pBandAll
    // a text appended in several batches carries one posting row per
    // batch — candidates de-duplicate, sets fold to one row per kh.
    // `band` is the partition column: a reduced-band probe prunes
    // whole band=X directories out of the scan (PartitionFilters).
    val cBandAll = spark.read.parquet(s"$dir/bands")
      .select($"kh", $"band".cast("int").as("band"), $"bucket")
    val cBandBands =
      if (bandsProbed < bnds) cBandAll.filter($"band" < bandsProbed)
      else cBandAll
    // POINT-LOOKUP path ("is this handful of documents already in
    // the corpus?" — the online shape): a probe with ≤ 8 unique
    // texts has ≤ 8 buckets per band, small enough that a pushed
    // per-band `bucket IN (...)` filter stays under parquet's
    // in-filter pushdown threshold (10) — and the bands files are
    // bucket-SORTED within each band partition, so row-group min/max
    // stats prune the scan INSIDE the touched partitions, not just
    // across them. The filter only names the probe's own join keys,
    // so the candidate set (and every downstream row) is IDENTICAL
    // to the full-scan plan — DedupSpec pins both the equality and
    // the PushedFilters. OPT-IN (`pointLookup`): the guard itself
    // costs two driver jobs (a bounded count + a ≤ 8×bands-row
    // collect, ~0.5 s of fixed job latency) that a BULK probe should
    // never pay — the caller knows its probe's shape, so the default
    // path runs zero extra jobs and an online point-lookup caller
    // opts in. Honest cost accounting (NdScreenBench): even when it
    // engages, at the SYNTHETIC gate indexes — whose postings follow
    // unique content and stay ~2 MB however far ScaleUp replicates —
    // the prepay exceeds the scan it saves (1.25 vs 0.73 s at sf10).
    // The regime it exists for is a standing ORGANIC corpus, where
    // postings are GB–TB (billions of unique texts) and the
    // row-group prune is the difference between touching megabytes
    // and scanning everything.
    val pointLookupMax = 8
    val cBand =
      if (pointLookup &&
          pUniq.limit(pointLookupMax + 1).count() <= pointLookupMax) {
        val byBand = pBand.select($"band", $"bucket").collect()
          .map(r => (r.getInt(0), r.getLong(1)))
          .groupBy(_._1)
        if (byBand.isEmpty) cBandBands.filter(lit(false))
        else cBandBands.filter(byBand.map { case (b, rows) =>
          $"band" === b && $"bucket".isin(rows.map(_._2).distinct.toSeq: _*)
        }.reduce(_ || _))
      } else cBandBands
    val cands = pBand.as("x").join(cBand.as("y"),
        col("x.band") === col("y.band") && col("x.bucket") === col("y.bucket"))
      .select(col("x.doc").as("a"), col("y.kh").as("b"))
      .distinct()
    val cSets = TinyParquet.read(spark, s"$dir/sets")
      .groupBy($"kh").agg(first($"hs").as("hs"))
      .select($"kh".as("doc"), $"hs")
    val uniqPairs = verifyJaccardTwoSided(cands,
      docShingles(pUniq, "kh", "txt", n), cSets, threshold)
      .select($"a".as("pkh"), $"b".as("ckh"), $"jaccard")
    val pDocs = probe.select(xxhash64(col(textCol)).as("pkh"),
      col(idCol).as("a"))
    (uniqPairs, pDocs)
  }

  /** Probe a persisted near-dup index for the full PAIR LIST:
    * (a = probe doc, b = indexed doc, jaccard ≥ threshold). Candidate
    * generation and exact verification run per unique content; only
    * the final fan-out joins touch per-document rows. NOTE the output
    * itself is inherently quadratic in content duplication (every
    * probe copy × every indexed copy) — at corpus scale use
    * [[nearDupBestIndexed]], whose output is linear in the probe.
    * `pointLookup = true` opts a ≤ 8-unique-text online probe into
    * the pushed per-band bucket-IN scan (see [[nearDupUniquePairs]]);
    * bulk probes leave it false and pay zero guard jobs.
    */
  def nearDupProbeIndexed(spark: org.apache.spark.sql.SparkSession,
      dir: String, probe: DataFrame, idCol: String, textCol: String,
      threshold: Double, pointLookup: Boolean = false): DataFrame = {
    val (uniqPairs, pDocs) = nearDupUniquePairs(spark, dir, probe,
      idCol, textCol, threshold, pointLookup = pointLookup)
    uniqPairs
      .join(pDocs, "pkh")
      .join(TinyParquet.read(spark, s"$dir/docs")
        .select($"kh".as("ckh"), $"doc".as("b")), "ckh")
      .select($"a", $"b", $"jaccard")
  }

  /** REDUCED-BAND screen probe — [[nearDupProbeIndexed]] reading only
    * the first `bandsProbed` of the index's band partitions, the knob
    * the band-partitioned layout exists for: candidate recall for a
    * pair with true jaccard s drops from 1−(1−s^r)^b to
    * 1−(1−s^r)^b' (b=32, r=4, t=0.8 ⇒ a 16-band screen still catches
    * a threshold pair with p ≥ 1−0.59^16 ≈ 0.9998, and anything the
    * screen DOES emit is exact — the jaccard verify runs unchanged,
    * so precision stays 1), while the posting scan reads b'/b of the
    * index: directory-level partition pruning (PartitionFilters in
    * the scan node, DedupSpec pins it), which at a production index
    * size is the difference between touching 100 TB of postings and
    * touching half of them. bandsProbed = recorded bands ⇒ identical
    * to [[nearDupProbeIndexed]] (same plan, full recall).
    */
  def nearDupScreenIndexed(spark: org.apache.spark.sql.SparkSession,
      dir: String, probe: DataFrame, idCol: String, textCol: String,
      threshold: Double, bandsProbed: Int,
      pointLookup: Boolean = false): DataFrame = {
    val (uniqPairs, pDocs) = nearDupUniquePairs(spark, dir, probe,
      idCol, textCol, threshold, bandsProbed, pointLookup)
    uniqPairs
      .join(pDocs, "pkh")
      .join(TinyParquet.read(spark, s"$dir/docs")
        .select($"kh".as("ckh"), $"doc".as("b")), "ckh")
      .select($"a", $"b", $"jaccard")
  }

  /** The DECISION form — per probe document, its best match in the
    * index: (a, best_b, best_jaccard, n_matches), output LINEAR in
    * the probe at any duplication (the q210 lesson applied to the
    * near-dup probe: the pair list is the small-SF oracle anchor, the
    * per-document verdict is what a 100 TB ingest actually consumes).
    * best = highest jaccard, ties broken by smallest indexed doc id;
    * n_matches counts matching indexed DOCUMENTS (copies included —
    * an additive count, no pair rows materialized).
    */
  def nearDupBestIndexed(spark: org.apache.spark.sql.SparkSession,
      dir: String, probe: DataFrame, idCol: String, textCol: String,
      threshold: Double, pointLookup: Boolean = false): DataFrame = {
    val (uniqPairs, pDocs) = nearDupUniquePairs(spark, dir, probe,
      idCol, textCol, threshold, pointLookup = pointLookup)
    // per indexed CONTENT: copy count + smallest doc id (bounded,
    // content-keyed aggregates — never pair-expanded)
    val cStats = TinyParquet.read(spark, s"$dir/docs")
      .groupBy($"kh").agg(count(lit(1)).as("copies"), min($"doc").as("min_doc"))
      .select($"kh".as("ckh"), $"copies", $"min_doc")
    val perProbeContent = uniqPairs.join(cStats, "ckh")
      .groupBy($"pkh")
      .agg(sum($"copies").as("n_matches"),
        max(struct($"jaccard".as("j"), (-$"min_doc").as("nb"))).as("best"))
      .select($"pkh", $"n_matches",
        (-$"best.nb").as("best_b"), $"best.j".as("best_jaccard"))
    pDocs.join(perProbeContent, "pkh")
      .select($"a", $"best_b", $"best_jaccard", $"n_matches")
  }

  /** Compact a persisted near-dup index's append segments: bands/sets
    * fold to ONE row per unique content (probe-identical — probes
    * already de-duplicate by kh on read), docs rewrite as-is; the
    * [[IndexMaintenance.compactTables]] swap bounds the file count.
    */
  def compactNearDupIndex(spark: org.apache.spark.sql.SparkSession,
      dir: String): Unit = {
    val par = math.max(1, spark.sparkContext.defaultParallelism / 4)
    IndexMaintenance.compactTables(spark, dir, Seq(
      // bands keep the band-partitioned, bucket-sorted layout the
      // screen probe prunes on (one file per band after the shuffle)
      "bands" -> (() => spark.read.parquet(s"$dir/bands")
        .select($"kh", $"band".cast("int").as("band"), $"bucket")
        .groupBy($"kh", $"band").agg(first($"bucket").as("bucket"))
        .repartition($"band")
        .sortWithinPartitions($"band", $"bucket")),
      "sets" -> (() => spark.read.parquet(s"$dir/sets")
        .groupBy($"kh").agg(first($"hs").as("hs")).coalesce(par)),
      "docs" -> (() => spark.read.parquet(s"$dir/docs").coalesce(par))),
      partitionCols = Map("bands" -> Seq("band")))
  }

  /** Benchmark decontamination scan: for every corpus doc, the number
    * of distinct word n-grams it shares with an eval/benchmark set —
    * the screen a training pipeline runs before a corpus ships.
    * Shape: the eval side collapses to its distinct shingle hashes
    * (tiny — benchmarks are small), the corpus side streams through
    * one inverted-index equi-join on the hash; with a small eval set
    * the join broadcasts, so the corpus is ONE narrow pass — the same
    * machinery as dedup candidate generation, pointed at a reference
    * set. Returns (doc_id, n_shared) for contaminated docs only.
    */
  def contaminationScan(corpus: DataFrame, evalSet: DataFrame, idCol: String,
      textCol: String, n: Int): DataFrame = {
    val c = shingles(corpus, idCol, textCol, n)
    val e = shingles(evalSet, idCol, textCol, n).select($"h").distinct()
    c.join(e, "h")
      .groupBy($"doc").agg(count(lit(1)).as("n_shared")) // h pre-distinct per doc
      .select($"doc".as("doc_id"), $"n_shared")
  }

  /** [[contaminationScan]] behind a Bloom-filter prescreen — the shape
    * for a reference set too big to broadcast raw (a benchmark
    * UNION of hundreds of eval sets, a blocklist): the eval side
    * collapses to `numBits/64` longs (~9.6 bits per distinct gram for
    * ~1% FPs) via the [[graft.functions.BloomAgg]] mergeable
    * aggregate and broadcasts as ONE row; the corpus stream drops
    * every gram the filter rejects BEFORE any shuffle, so the exact
    * verify equi-join — which removes the false positives — shuffles
    * only true matches + the ~1% FP trickle instead of every corpus
    * gram. Bloom filters have no false negatives, so the output is
    * IDENTICAL to [[contaminationScan]] (same oracle gates both).
    */
  def contaminationScanBloom(corpus: DataFrame, evalSet: DataFrame,
      idCol: String, textCol: String, n: Int,
      numBits: Int = 1 << 20, numHashes: Int = 5): DataFrame = {
    import graft.functions.{BloomAgg, BloomMightContain}
    val e = shingles(evalSet, idCol, textCol, n).select($"h").distinct()
    val bloom = e.agg(BloomAgg.bloom_agg($"h", numBits, numHashes).as("bf"))
    val flagged = shingles(corpus, idCol, textCol, n)
      .join(broadcast(bloom))
      .filter(BloomMightContain.might_contain($"h", $"bf", numHashes))
      .select($"doc", $"h")
    flagged.join(e, Seq("h"))
      .groupBy($"doc").agg(count(lit(1)).as("n_shared"))
      .select($"doc".as("doc_id"), $"n_shared")
  }

  /** 64-bit SimHash over word tokens (bag-weighted): bit i of the
    * sketch is the sign of Σ_tokens count · (±1 per token-hash bit i).
    * One map-side pass per doc ([[graft.functions.SimHash64]]).
    */
  def simhash(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol).as("doc"),
      graft.functions.SimHash64.simhash64(col(textCol)).as("simhash"))

  /** Connected components over near-dup pairs → cluster
    * representative per doc (the final "keep one per duplicate
    * cluster" step of a dedup pipeline). Iterative min-label
    * propagation: each round every node adopts the smallest label in
    * its neighborhood; converges in O(cluster diameter) rounds — a
    * handful for near-dup clusters, each round one join, no driver
    * state. (Union-find on the driver would bottleneck at 100 TB;
    * this shape is how GraphX/GraphFrames do it.)
    */
  def clusterReps(pairs: DataFrame, maxIters: Int = 10): DataFrame = {
    // Lineage truncation is load-bearing here: each round's plan
    // references `labels` twice (join + union), so without a
    // checkpoint the LOGICAL plan doubles every iteration and Catalyst
    // analysis/optimization dominates runtime long before execution
    // does (cache() shortens execution, not analysis). localCheckpoint
    // materializes into the block manager AND makes the frame a plan
    // leaf; on a multi-node cluster with executor churn, prefer
    // sc.setCheckpointDir + .checkpoint() for loss tolerance.
    // edges are hash-partitioned on the join key ONCE; localCheckpoint
    // preserves outputPartitioning, and each round's labels come out
    // of groupBy(doc) hash-partitioned on doc — so the per-round join
    // (y === doc) needs NO exchange on either side, leaving the
    // post-join re-aggregation as the round's only shuffle of narrow
    // (doc, lbl) rows
    val edges = pairs.select($"a".as("x"), $"b".as("y"))
      .unionByName(pairs.select($"b".as("x"), $"a".as("y")))
      .repartition($"y")
      .localCheckpoint()
    var labels = edges.select($"x".as("doc"), $"y".as("lbl"))
      .unionByName(edges.select($"x".as("doc"), $"x".as("lbl")))
      .groupBy($"doc").agg(min($"lbl").as("lbl"))
      .localCheckpoint()
    // labels only ever decrease under min-propagation, so the label
    // sum is strictly monotone until fixpoint — one cheap scalar agg
    // per round instead of a join-based diff
    def labelSum(df: DataFrame): java.math.BigDecimal =
      df.agg(sum($"lbl".cast("decimal(38,0)"))).collect()(0).getDecimal(0)
    var prevSum = labelSum(labels)
    var iter = 0
    var converged = false
    while (iter < maxIters && !converged) {
      val next = edges.join(labels, $"y" === $"doc")
        .select($"x".as("doc"), $"lbl")
        .unionByName(labels)
        .groupBy($"doc").agg(min($"lbl").as("lbl"))
        .localCheckpoint() // eager: materializes + truncates lineage
      val nextSum = labelSum(next)
      converged = nextSum.compareTo(prevSum) == 0
      prevSum = nextSum
      labels = next // old round's blocks are freed by the ContextCleaner
      iter += 1
    }
    if (!converged)
      org.slf4j.LoggerFactory.getLogger(getClass).warn(
        s"clusterReps exited at maxIters=$maxIters WITHOUT converging — " +
          "some clusters (diameter > maxIters) are split across multiple " +
          "representatives; raise maxIters")
    labels.withColumnRenamed("lbl", "cluster_rep")
  }

  /** "Keep the BEST doc per duplicate cluster" — the quality-aware
    * variant of min-id dedup: real curation pipelines keep the
    * longest/cleanest copy of a near-dup cluster, not the smallest id.
    * Composes [[clusterReps]] (cluster assignment) with a per-cluster
    * argmax over a caller-supplied score frame `scores` (doc, score):
    * `max(struct(score, -doc))` is a map-side partial aggregate, so
    * after the cluster join the argmax costs one narrow k-bounded
    * shuffle — no window over cluster member lists. Ties break to the
    * smallest doc id (deterministic).
    *
    * Returns one row per cluster:
    * (cluster_rep, keep_doc, keep_score, n_docs).
    */
  def clusterKeepBest(pairs: DataFrame, scores: DataFrame,
      maxIters: Int = 10): DataFrame =
    clusterReps(pairs, maxIters)
      .join(scores, "doc")
      .groupBy($"cluster_rep")
      .agg(
        max(struct($"score", (-$"doc").as("nd"))).as("best"),
        count(lit(1)).as("n_docs"))
      .select($"cluster_rep", (-$"best.nd").as("keep_doc"),
        $"best.score".as("keep_score"), $"n_docs")

  /** Connected components DIRECTLY on a bipartite doc–key incidence
    * frame (doc, key) — docs are connected iff they share a key —
    * WITHOUT ever materializing doc pairs. The pair-list form of
    * shared-key dedup is inherently quadratic in true duplication
    * (measured: the sf100 clip-pair probe spilled the disk at 1000×
    * replication, where synthesized "distinct" sources collapse onto
    * few distinct contents and every content's pair count grows d²);
    * this form's per-round cost is the POSTINGS size — min-label
    * propagation alternates doc→key and key→doc minima, so the label
    * stream is always one narrow row per posting, and output is one
    * row per doc at ANY duplication level. Convergence in
    * O(component diameter) rounds over the bipartite graph, monitored
    * by the same monotone label-sum certificate as [[clusterReps]]
    * (labels only decrease; equal sums ⇒ fixpoint), lineage truncated
    * per round for the same Catalyst-analysis reason. Returns
    * (doc, cluster_rep): cluster_rep = min doc id of the component;
    * docs with no key rows simply don't appear (they have no
    * incidence evidence — callers union them back as singletons if
    * the key extraction can yield empty sets).
    */
  def bipartiteClusterReps(postings: DataFrame, maxIters: Int = 20): DataFrame = {
    val po = postings.select($"doc", $"key").distinct()
      .repartition($"key")
      .localCheckpoint()
    var labels = po.select($"doc").distinct()
      .select($"doc", $"doc".as("lbl"))
      .localCheckpoint()
    def labelSum(df: DataFrame): java.math.BigDecimal =
      df.agg(sum($"lbl".cast("decimal(38,0)"))).collect()(0).getDecimal(0)
    var prevSum = labelSum(labels)
    var iter = 0
    var converged = false
    while (iter < maxIters && !converged) {
      // doc→key: smallest label incident to each key; key→doc: each
      // doc adopts the smallest over its keys (and keeps its own)
      val keyMin = po.join(labels, "doc")
        .groupBy($"key").agg(min($"lbl").as("klbl"))
      val next = po.join(keyMin, "key")
        .select($"doc", $"klbl".as("lbl"))
        .unionByName(labels)
        .groupBy($"doc").agg(min($"lbl").as("lbl"))
        .localCheckpoint()
      val nextSum = labelSum(next)
      converged = nextSum.compareTo(prevSum) == 0
      prevSum = nextSum
      labels = next
      iter += 1
    }
    if (!converged)
      org.slf4j.LoggerFactory.getLogger(getClass).warn(
        s"bipartiteClusterReps exited at maxIters=$maxIters WITHOUT " +
          "converging — components wider than the iteration budget are " +
          "split; raise maxIters")
    labels.withColumnRenamed("lbl", "cluster_rep")
  }

  /** Near-dup pairs by SimHash hamming distance, blocked on
    * `nChunks` equal-width chunks. Pigeonhole guarantee: recall is
    * EXACT only for maxHamming < nChunks (a pair differing in every
    * chunk shares no block key); beyond that the block join is a
    * recall-heuristic — the standard simhash-dedup tradeoff. Callers
    * wanting guaranteed recall at higher distances raise `nChunks`
    * (wider blocks ⇒ bigger buckets).
    */
  def simhashPairs(sketches: DataFrame, maxHamming: Int, nChunks: Int = 4): DataFrame = {
    require(64 % nChunks == 0, "nChunks must divide 64")
    val width = 64 / nChunks
    val mask = if (width == 64) -1L else (1L << width) - 1
    val chunks = (0 until nChunks).map { c =>
      sketches.select($"doc", $"simhash", lit(c).as("chunk"),
        shiftrightunsigned($"simhash", c * width).bitwiseAND(mask).as("key"))
    }.reduce(_ unionByName _)
    chunks.as("x").join(chunks.as("y"),
        col("x.chunk") === col("y.chunk") && col("x.key") === col("y.key") &&
          col("x.doc") < col("y.doc"))
      .select(col("x.doc").as("a"), col("y.doc").as("b"),
        bit_count(col("x.simhash").bitwiseXOR(col("y.simhash"))).as("hamming"))
      .distinct()
      .filter($"hamming" <= maxHamming)
  }
}
