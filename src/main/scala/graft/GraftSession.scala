package graft

import graft.plans.GraftExtensions
import org.apache.spark.sql.SparkSession

/** The engine's one session definition, encoding the settings that
  * matter at 100 TB (and their local[32] stand-ins). Every entry point
  * builds its session with [[local]] and varies only the core count
  * (the heap is the launching JVM's `-Xmx`): Verify, Bench, the test
  * suite (`SparkSpec`) and the tool mains, so the verified, tested and
  * timed plans are one plan. The benchmark harness calls [[builder]]
  * directly; production jobs should start there too.
  */
object GraftSession {

  /** Entries of Spark's generated-class cache
    * (`spark.sql.codegen.cache.maxEntries`; Spark's default is 100).
    *
    * graft replays a fixed set of plan shapes — the daily load job,
    * the relational queries, each stream batch's appliers and probes —
    * so every repeat should reuse the classes whole-stage codegen
    * compiled the first time. A 100-entry LRU is smaller than one such
    * working set, so it thrashed: measured with
    * `CodegenMetrics.METRIC_COMPILATION_TIME` on one benchmark run
    * each (4 vCPUs), a 13-query relational mix compiles 208 distinct
    * classes and recompiled 11.8 of them per query on every pass; a
    * streaming-index cycle (BM25 + IVF + near-dup apply, one
    * compaction, one hybrid search) touches 342–366 and recompiled
    * ~185 per cycle. At 1000 both stay resident and their steady
    * state compiles nothing.
    *
    * Cost per entry: the cache key keeps the full generated source
    * text (4.4–5.8k chars on average, up to 30k) and the value a loaded
    * class in its own class loader. Measured on those workloads' caches
    * (JDK 17, heap and Metaspace freed by emptying the cache and a full
    * GC): 18–19 KB of heap and 8.5–8.7 KB of Metaspace per entry. A
    * full cache holds ~19 MB of heap and ~9 MB of Metaspace at that
    * mix; an entry's cost grows with its source, so a cache of only
    * the largest classes seen (~6× the mean) would hold several times
    * that. Not larger: the measured working sets fill a third
    * of it, and entries stay until evicted, so more entries only hold
    * classes of plans that do not run again (a JVM serving many
    * distinct ad-hoc queries should size it to its own repeat set).
    *
    * A STATIC conf: Spark reads it once per JVM, when `CodeGenerator`
    * first initializes. The session must be built before anything
    * compiles generated code; a JVM that ran codegen first (or built
    * another session first) keeps that cache size for its lifetime.
    * Repeated operations must also keep per-call values out of the
    * generated source ([[graft.functions.CallParam]]), or every call
    * is a new cache key however large the cache.
    */
  val CodegenCacheEntries: Int = 1000

  /** `spark.sql.files.maxPartitionBytes` (rationale at [[builder]]). */
  val MaxPartitionBytes: Long = 256L * 1024 * 1024

  /** Settings rationale:
    * - AQE on: runtime re-planning — coalesces post-shuffle
    *   partitions, converts sort-merge joins to broadcast when the
    *   built side turns out small, splits skewed partitions. At 100 TB
    *   these decisions can't be made statically.
    * - shuffle.partitions sized to cluster cores (driver contract uses
    *   32 locally); AQE coalescing trims the excess, so err high.
    * - maxPartitionBytes 256 MiB: the reference's split cap; big
    *   enough to amortize task overhead, small enough to spread work.
    * - openCostInBytes packs small files (CombineTextInputFormat
    *   behavior).
    * - parquet filter pushdown + vectorized reads are defaults — kept
    *   explicit here as documentation of what the plans rely on.
    * - objectHashAggregate fallback threshold raised from the default
    *   128 to 64k: TypedImperativeAggregate plans (the sketch family)
    *   fall back to SORT-based aggregation once a task's partial-agg
    *   map holds >threshold groups — at the default, any sketch
    *   grouped by more than 128 keys (e.g. 150 type×day groups)
    *   degenerates into a full sort of every task's input. Measured
    *   at sf100: 55 s → 2 s on the uniqUpTo gate from this setting
    *   alone. NOT raised further (r16 reverted r15's 4M): the
    *   threshold bounds CONCURRENT in-memory states, so its safe
    *   ceiling is memory ÷ max-state-size, and graft's largest
    *   bounded state (HLL p=12, a 4096-long register array ≈ 32 KB
    *   in memory) puts 64k × 32 KB ≈ 2 GB/task at the worst-case
    *   edge — while the common sketch states (DDSketch maxBuckets,
    *   CMS w×d, TopK k) are ≤ KB, i.e. ≤ 64 MB/task. 4M entries was
    *   only safe under a "states ≈ 50 B" assumption that holds for
    *   TopKAgg alone, and the data-proportional aggregates (sumMap,
    *   groupBitmap) NEED an early sort fallback — it is what caps
    *   how many growing states sit in memory at once
    *   (AggStateBoundSpec pins this classification). The r15
    *   motivation — q34's tiled all-NN partials at sf10 — is gone:
    *   documented-quadratic operators now refuse past
    *   spark.graft.quadratic.maxPairs, and a FORCED exact run at
    *   that scale should raise this threshold alongside (the
    *   operator scaladoc says so).
    * - [[graft.plans.GraftExtensions]]: the `graft_*` SQL functions and
    *   one AQE query-stage preparation rule,
    *   [[graft.plans.DropMicroShuffles]]: the shuffle Spark adds above
    *   an input read as one split and estimated under 32 MiB becomes a
    *   one-partition coalesce, so at that scale an aggregate, window,
    *   sort or join runs in its scan's job (a benchmark `query_mix`
    *   query: 4.0 → 1.08 jobs). Larger and multi-split inputs, and
    *   user exchanges, plan as before.
    * - `file://` bound to [[graft.io.NioLocalFileSystem]] (`FileSystem`)
    *   and [[graft.io.NioLocalFs]] (`FileContext`, which the streaming
    *   checkpoint manager uses). Without libhadoop, the default classes
    *   (Hive's `ProxyLocalFileSystem`, a Hadoop `LocalFileSystem`, and
    *   Hadoop's `LocalFs`) start a `chmod` process for every file,
    *   `.crc` file and directory they write and a `readlink` process
    *   for every `FileContext` rename, ~3.5 ms each. A JFR recording of
    *   one benchmark `index_stream` run counted 1,879 process starts
    *   (1,056 `chmod 0644`, 689 `chmod 0755`, 128 `readlink`: ~122 per
    *   near-dup apply, ~65 per IVF apply, ~60–70 per BM25 append); with
    *   the binding it counts 6, none from a write (`setsid` and
    *   `getconf` at JVM start, Spark's four `rm -rf` of its temporary
    *   directories at exit). The classes set the
    *   same modes through `java.nio.file`; checksums, the commit
    *   protocol, the rename rules and every plan are unchanged. A JVM
    *   that obtained a `file://` `FileSystem` from a configuration
    *   without these keys before the session was built keeps the
    *   default class (the `FileSystem` cache is per scheme, not per
    *   configuration).
    */
  def builder(master: String = "local[32]", cores: Int = 32): SparkSession.Builder =
    SparkSession.builder()
      .master(master)
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "65536")
      .config("spark.sql.codegen.cache.maxEntries", CodegenCacheEntries.toString)
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.files.maxPartitionBytes", MaxPartitionBytes.toString)
      .config("spark.sql.files.openCostInBytes", (4L * 1024 * 1024).toString)
      .config("spark.sql.parquet.filterPushdown", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.hadoop.fs.file.impl", classOf[graft.io.NioLocalFileSystem].getName)
      .config("spark.hadoop.fs.AbstractFileSystem.file.impl", classOf[graft.io.NioLocalFs].getName)
      .withExtensions(new GraftExtensions)

  /** The session of every entry point: [[builder]] on `local[cores]`
    * with the UI off and WARN logging. Returns the JVM's existing
    * session if one is active, as `getOrCreate` does.
    */
  def local(cores: Int = 32): SparkSession = {
    val s = builder(s"local[$cores]", cores)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
