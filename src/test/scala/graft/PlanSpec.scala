package graft

import graft.operators.{Sharding, ShardSpec}
import graft.queries.Relational

/** Physical-plan shape assertions — the properties that make these
  * plans survive a 100× scale-up, checked explicitly so a regression
  * (a lost pushdown, an extra shuffle) fails the build rather than
  * just the benchmark.
  */
class PlanSpec extends SparkSpec {

  private def plan(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("plans.partitions reads the planned partition count without running a job") {
    import org.apache.spark.sql.functions.col
    val li = Tables(spark, sf).lineitem
    val multi = java.nio.file.Files.createTempDirectory("graft-parts").toString
    spark.range(0, 3000, 1, 3).write.mode("overwrite").parquet(multi)
    val files = spark.read.parquet(multi)
    val shapes = Seq(
      "scan" -> li,
      "filtered scan" -> li.filter(col("l_quantity") > 10),
      "multi-file scan" -> files,
      "coalesce(1) + agg" -> li.coalesce(1).groupBy("l_returnflag").count(),
      // one small split: DropMicroShuffles plans the aggregate in the scan's partition
      "aggregate" -> li.groupBy("l_returnflag").count(),
      "multi-file aggregate" -> files.groupBy((col("id") % 3).as("m")).count(),
      "repartition(7)" -> li.repartition(7),
      "union" -> li.union(li))
    val (got, jobs) = Jobs.counted(spark)(shapes.map { case (n, df) => n -> plans.partitions(df) }.toMap)
    assert(jobs == 0, "reading the partition count must run no job")
    val shufflePartitions = spark.conf.get("spark.sql.shuffle.partitions").toInt
    assert(got == Map(
      "scan" -> Some(1), "filtered scan" -> Some(1), "multi-file scan" -> Some(3),
      "coalesce(1) + agg" -> Some(1), "aggregate" -> Some(1),
      // the planned exchange, not what AQE coalesces it to at run time
      "multi-file aggregate" -> Some(shufflePartitions),
      "repartition(7)" -> Some(7), "union" -> None))
    // a scan's count is the RDD's split count
    Seq("scan", "filtered scan", "multi-file scan").foreach { n =>
      assert(got(n).contains(shapes.toMap.apply(n).rdd.getNumPartitions), n)
    }
  }

  test("shard assignment is map-side only (no shuffle)") {
    val p = plan(Sharding.assign(Tables(spark, sf).customer, "c_name", ShardSpec(Seq(1, 2, 1))))
    assert(!p.contains("Exchange"), s"unexpected shuffle:\n$p")
  }

  test("shard co-location is exactly one exchange, one shard per partition") {
    import org.apache.spark.sql.functions.{col, spark_partition_id}
    val spec = ShardSpec(Seq(1, 2, 1))
    val assigned = Sharding.assign(Tables(spark, sf).customer, "c_name", spec)
    // partition id → the shards found in it
    def layout(pps: Int): Map[Int, Set[Int]] = {
      val df = Sharding.partitionByShard(assigned, spec, pps)
      val p = plan(df)
      assert("Exchange".r.findAllIn(p).size == 1, s"expected 1 exchange:\n$p")
      df.select(spark_partition_id(), col("shard")).distinct().collect()
        .groupBy(_.getInt(0)).map { case (pid, rs) => pid -> rs.map(_.getInt(1)).toSet }
    }
    assert(layout(1) == Map(0 -> Set(0), 1 -> Set(1), 2 -> Set(2)),
      "each shard must own exactly one partition")
    assert(layout(2) == (0 until 6).map(pid => pid -> Set(pid / 2)).toMap,
      "with 2 partitions per shard, shard s must fill partitions 2s and 2s+1")
  }

  test("q24 carries no window at all: total fans back through a bounded aggregate") {
    // formerly the suite's ONLY unpartitioned window (1 of 214
    // queries, the r13 bench-tail warning source) — the 3-row shard
    // summary now totals through collect_list + re-explode, so the
    // plan has no WindowExec to warn about
    val df = graft.queries.Etl.queries("q24_shard_assign")(spark, sf)
    val windows = df.queryExecution.optimizedPlan.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window => w
    }
    assert(windows.isEmpty, "q24 must not carry any window")
    assert(df.collect().length == 3, "the totalled frame is the 3-row shard summary")
  }

  test("a nested-loop join computes its streamed columns once per row, with AQE on and off") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.graft.Bridge.{column, expression}
    // 200 streamed rows against 50 broadcast rows: a column computed
    // in the join's per-pair loop would count 10,000
    Seq("true", "false").foreach { aqe =>
      val s = spark.newSession()
      s.conf.set("spark.sql.adaptive.enabled", aqe)
      s.conf.set("spark.sql.codegen.factoryMode", "CODEGEN_ONLY")
      s.conf.set("spark.sql.codegen.fallback", "false")
      val streamed = s.range(0, 200, 1, 4)
        .select(column(CountedEval(expression(col("id")))).as("c"))
      val build = broadcast(s.range(0, 50, 1, 1).select(col("id").as("b")))
      val q = streamed.crossJoin(build).agg(sum(col("c") + col("b")))
      CountedEval.evals.set(0)
      assert(q.collect().head.getLong(0) == 50L * 19900 + 200L * 1225)
      assert(CountedEval.evals.get == 200, s"AQE $aqe: ${CountedEval.evals.get} evaluations")
    }
  }

  test("nested-loop scorers plan a codegen boundary above a computed streamed side, none over a plain scan") {
    import graft.operators.Similarity
    import graft.plans.CodegenBoundaryExec
    import org.apache.spark.sql.functions._
    // a plan no other spec caches: a cached `prepare(embeddings)` is an
    // in-memory scan whose streamed side computes nothing
    val corpus = Similarity.prepare(Tables(spark, sf).embeddings.where(col("vec_id") >= 0),
      "vec_id", "embedding")
    val queries = corpus.filter(col("vid") < 50)
    // the boundary is placed when AQE plans each stage: read the final plan
    def boundaries(df: org.apache.spark.sql.DataFrame): Int = {
      df.collect()
      Jobs.collect(df.queryExecution.executedPlan) { case b: CodegenBoundaryExec => b }.size
    }
    val cents = Similarity.coarseCentroids(corpus, 50, 0, 0)
    Seq(
      "binaryTopK" -> Similarity.binaryTopK(queries, corpus, topK = 3),
      "sq8TopK" -> Similarity.sq8TopK(queries, corpus, topK = 3),
      "bruteForceTopK" -> Similarity.bruteForceTopK(queries, corpus, 3),
      "IVF assignment" -> Similarity.cellsFor(corpus, cents, 1, "")
    ).foreach { case (name, df) => assert(boundaries(df) >= 1, name) }
    val emb = Tables(spark, sf).embeddings
    val plain = emb.join(broadcast(emb.filter(col("vec_id") < 5)
        .select(col("vec_id").as("q"), col("embedding").as("e"))), col("vec_id") =!= col("q"))
      .select(col("q"), col("vec_id"), size(col("embedding")) + size(col("e")))
    assert(boundaries(plain) == 0, s"a plain scan needs no boundary:\n${plain.queryExecution.executedPlan}")
    assert(Jobs.collect(plain.queryExecution.executedPlan) {
      case j: org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec => j
    }.size == 1)
  }

  test("q01 aggregation is two-phase (map-side partial before shuffle)") {
    val p = plan(Relational.queries("q01_agg_pricing_summary")(spark, sf))
    assert(p.contains("partial_"), s"expected partial aggregation:\n$p")
  }

  test("q21 column exclusion prunes the scan (9 of 11 columns read)") {
    val p = plan(graft.queries.Etl.queries("q21_exclude_fields")(spark, sf))
    val readSchema = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(!readSchema.contains("l_orderkey") && !readSchema.contains("l_shipdate"),
      s"scan should not read excluded columns:\n$readSchema")
  }

  test("q02 pushes all three predicates into the parquet scan") {
    spark.conf.set("spark.sql.maxMetadataStringLength", "2000") // don't elide PushedFilters
    val p = plan(Relational.queries("q02_filter_projection_pushdown")(spark, sf))
    val pushed = p.linesIterator.find(_.contains("PushedFilters")).getOrElse("")
    assert(pushed.contains("EqualTo(l_returnflag,R)"), pushed)
    assert(pushed.contains("GreaterThanOrEqual(l_quantity,30.0)"), pushed)
    assert(pushed.contains("GreaterThan(l_shipdate,"), pushed)
  }

  test("q34/q43 embedding joins are tiled equi-joins, not nested-loop") {
    for (q <- Seq("q34_embedding_nn", "q43_embedding_neardup")) {
      val p = plan(graft.queries.Pipeline.queries(q)(spark, sf))
      assert(!p.contains("BroadcastNestedLoopJoin"),
        s"$q must not plan a nested-loop pair join:\n$p")
      assert(!p.contains("CartesianProduct"),
        s"$q must not plan a cartesian product:\n$p")
    }
  }

  test("whole-stage codegen covers the transform pipeline") {
    import graft.config.LoaderConfig
    import graft.operators.TransformStage
    val li = Tables(spark, sf).lineitem
    val wire = TransformStage.transform(
      TransformStage.excludeFields(li, Seq(0, 10)),
      LoaderConfig(dt = "2017-01-07"),
      stringCols = Set("l_returnflag", "l_linestatus", "dt"))
    val p = plan(wire)
    assert(p.contains("*(1)"), s"transform should be one codegen stage:\n$p")
  }

  test("the direct load plans no regex or translate: byte kernels for split, " +
      "sanitize and hive values") {
    import graft.cli.Args
    import graft.functions.{HiveValue, WireSanitize, WireSplit}
    import org.apache.spark.sql.catalyst.expressions._
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    val base = java.nio.file.Files.createTempDirectory("graft-kernels")
    val day = base.resolve("dt=2017-01-07/pt=ios")
    java.nio.file.Files.createDirectories(day)
    java.nio.file.Files.writeString(day.resolve("f.txt"), "1|a\\b|\\N\n2|c|d\n")
    val cfg = Args.parse(Seq("--export-dir", s"$base/dt=2017-01-07/pt=*", "--table", "t",
      "--extract-hive-partitions", "true"))
    val target = graft.catalog.TargetSchema.fromDDL(
      "c0 STRING, c1 STRING, c2 STRING, dt STRING, pt STRING", Some("c1"))
    val executed = graft.LoaderJob.mapSide(spark, cfg, target, ShardSpec(Seq(1, 1)))
      .queryExecution.executedPlan
    val exprs = new AdaptiveSparkPlanHelper {}
      .flatMap(executed)(_.expressions.flatMap(_.collect { case e => e }))
    val banned = exprs.collect {
      case e @ (_: StringSplit | _: StringTranslate | _: RegExpReplace | _: RegExpExtract) => e
    }
    assert(banned.isEmpty, s"regex/translate on the load path: $banned\n$executed")
    val kernels = exprs.collect { case e @ (_: WireSplit | _: WireSanitize | _: HiveValue) =>
      e.getClass.getSimpleName }.toSet
    assert(kernels == Set("WireSplit", "WireSanitize", "HiveValue"), s"$kernels\n$executed")
  }

  test("q66 decontamination broadcasts the eval side (corpus never shuffles)") {
    val p = plan(graft.queries.Pipeline.queries("q66_decontaminate")(spark, sf))
    assert(p.contains("BroadcastHashJoin"), s"eval side should broadcast:\n$p")
  }

  test("q68 salted join has no nested-loop and keeps partial aggregation") {
    val p = plan(Relational.queries("q68_salted_join")(spark, sf))
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"salted join must stay an equi-join:\n$p")
    assert(p.contains("partial_"), s"expected map-side partial agg:\n$p")
  }

  test("q31 exact-jaccard verify is array-merge (no pair-level shingle explode)") {
    val df = graft.operators.Dedup.ngramJaccardPairs(
      Tables(spark, sf).documents, "doc_id", "text", 3, 0.8)
    val p = plan(df)
    assert(p.contains("sortedintersectcount") || p.contains("SortedIntersectCount"),
      s"verification should use the sorted-merge expression:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"no all-pairs join:\n$p")
  }

  test("q71 upsert resolution is a partial-aggregated argmax, not a window") {
    val p = plan(graft.queries.Etl.queries("q71_replacing_merge")(spark, sf))
    assert(p.contains("partial_"), s"expected map-side partial argmax:\n$p")
    assert(!p.contains("Window"), s"no full-union window expected:\n$p")
  }

  test("ANN top-k ranking is a bounded partial aggregate, not a candidate window") {
    import graft.operators.Similarity
    val corpus = Similarity.prepare(Tables(spark, sf).embeddings, "vec_id", "embedding")
    // the candidate stream is the scale hazard (hot buckets, wide
    // probes) — ranking must keep a k-bounded partial per group, never
    // shuffle every candidate row into a per-query window partition
    for (df <- Seq(
        Similarity.bruteForceTopK(corpus.filter(corpus("vid") < 20), corpus, k = 5),
        Similarity.lshTopK(corpus, dim = 64, nPlanes = 5, k = 5, nTables = 4),
        Similarity.ivfTopK(corpus, k = 5, dim = 64, nProbe = 2))) {
      val p = plan(df)
      assert(!p.contains("Window"), s"no candidate-stream window expected:\n$p")
      assert(p.toLowerCase.contains("partial_topkagg"),
        s"expected map-side partial top-k aggregate:\n$p")
    }
  }

  test("sketch expressions stay inside whole-stage codegen") {
    import graft.functions.{BandBuckets, SimHash64, Fingerprint64}
    import org.apache.spark.sql.functions._
    val docs = Tables(spark, sf).documents
    // shingle → minhash → bands + simhash + fingerprint in one projection:
    // all native doGenCode expressions, so the whole thing is one span
    // with no interpreted-eval fallback.
    import graft.functions.{MinHashSig, ShingleHash64}
    val sigs = docs.select(col("doc_id"),
        MinHashSig.minhash_sig(ShingleHash64.shingle_hashes(col("text"), 3), 16).as("sig"),
        SimHash64.simhash64(col("text")).as("sh"),
        Fingerprint64.fingerprint64(col("text")).as("fp"))
      .withColumn("bands", BandBuckets.band_buckets(col("sig"), 4, 4))
    val p = plan(sigs)
    assert(p.contains("*(1)"), s"sketch projection should be one codegen stage:\n$p")
    assert(!p.toLowerCase.contains("fallback"), s"unexpected codegen fallback:\n$p")
  }

  test("q77 funnel broadcasts decontamination and never pair-joins") {
    // q77's builder runs the funnel eagerly (observe-metric counts) and
    // returns a local 5-row frame — pin the plan of the lazy final
    // stage, which is the same join tree the funnel's one job executes
    val p = plan(graft.operators.Curation.curate(
      graft.Tables(spark, sf).documents, "en"))
    assert(p.contains("BroadcastHashJoin"), s"eval side should broadcast:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"no all-pairs join in the funnel:\n$p")
  }

  test("q78/q79 group ops are a single hash exchange on the group key") {
    import graft.operators.Sampling
    import org.apache.spark.sql.functions._
    val docs = Tables(spark, sf).documents.select(col("source"), col("doc_id"), col("text"))
    val docs3 = Jobs.splitCopy(docs)
    for ((name, q) <- Seq[(String, org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame)](
        "capPerGroup" -> (d => Sampling.capPerGroup(d, "source", "doc_id", 10)),
        "packByTokenBudget" -> (d => Sampling.packByTokenBudget(d, "source",
          "doc_id", size(split(col("text"), " ")), 2000L)))) {
      // over three splits: the one exchange on the group key
      val p = plan(q(docs3))
      assert("Exchange".r.findAllIn(p).size == 1,
        s"$name should shuffle exactly once, on the group key:\n$p")
      assert(p.contains("hashpartitioning(source"),
        s"$name should partition by the group column:\n$p")
      val micro = plan(q(docs))
      assert(!micro.contains("Exchange"), s"$name over one small split should not shuffle:\n$micro")
    }
  }

  test("multi-probe LSH expands only the query side of the bucket join") {
    import graft.operators.Similarity
    import org.apache.spark.sql.functions._
    val corpus = Similarity.prepare(Tables(spark, sf).embeddings, "vec_id", "embedding")
    val p = plan(Similarity.lshTopK(corpus, 64, nPlanes = 5, k = 5,
      nTables = 8, nProbe = 3))
    // one lshprobes generator (query side), one lshbuckets (members) —
    // the corpus-sized side is not probe-replicated
    val lp = p.toLowerCase
    assert(lp.contains("lshprobes"), s"query side should use probe buckets:\n$p")
    assert(lp.contains("lshbuckets"), s"member side should keep exact buckets:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"bucket join must stay an equi-join:\n$p")
  }

  test("BM25 probes the inverted index via broadcast; ranking is the bounded aggregate") {
    import graft.operators.Retrieval
    val p = plan(Retrieval.bm25TopK(Tables(spark, sf).documents,
      "doc_id", "text", Seq(1L -> "spark window join", 2L -> "dup scan"), k = 10))
    // query terms, document frequencies, and corpus stats all broadcast
    // — the corpus-sized postings side never shuffles for the joins
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 2,
      s"query-term and df joins must broadcast:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("SortMergeJoin"),
      s"no corpus-side shuffle joins expected:\n$p")
    assert(p.contains("topkagg") || p.toLowerCase.contains("topkagg"),
      s"ranking must be the k-bounded aggregate, not a window:\n$p")
    assert(!p.contains("Window"), s"no corpus-wide window allowed:\n$p")
  }

  test("hashed-vector search joins on bucket with a broadcast query side") {
    import graft.operators.Retrieval
    val p = plan(Retrieval.hashedVectorTopK(Tables(spark, sf).documents,
      "doc_id", "text", Seq(1L -> "spark window join"), dim = 64, k = 10))
    assert(p.contains("BroadcastHashJoin"), s"query vectors must broadcast:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"bucket join must stay an equi-join:\n$p")
    assert(!p.contains("Window"), s"ranking must not window the corpus:\n$p")
  }

  test("windowFunnel is one user-keyed sorted scan, no joins between event-sized frames") {
    import org.apache.spark.sql.functions._
    val ev = Tables(spark, sf).events.withColumn("tms", unix_millis(col("ts")))
    val p = plan(graft.operators.Funnel.windowFunnel(ev, "user_id", "tms",
      Seq(col("event_type") === "view", col("event_type") === "click",
        col("event_type") === "purchase"), windowMs = 7200000L))
    assert(p.contains("MapPartitions"),
      s"depth must come from the streaming per-user scan:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"no unbounded joins:\n$p")
    assert(!p.contains("Window"), s"no per-user window scan expected:\n$p")
    // skew guard: exactly one join in the whole plan (the user-level
    // left join that restores level-0 users) — per-stage event joins,
    // whose per-user fanout was |stage-k| x |reachable|, are gone
    assert("Join".r.findAllIn(p).size <= 2, s"event-sized joins crept back:\n$p")
  }

  test("mmr greedy is partition-local: one mapGroups, job count independent of k") {
    import graft.operators.Retrieval
    val docs = Tables(spark, sf).documents
    val qs = Seq(1L -> "spark window join", 2L -> "dup scan")
    def run(k: Int): Int = {
      val sc = spark.sparkContext
      val group = s"mmr-jobs-k$k"
      sc.setJobGroup(group, group)
      try {
        val bm = Retrieval.bm25TopK(docs, "doc_id", "text", qs, k = 10)
        val out = Retrieval.mmrRerank(bm, docs, "doc_id", "text", dim = 64, k = k)
        assert(out.queryExecution.executedPlan.toString.contains("MapGroups"),
          "greedy must run inside a partition-local mapGroups")
        out.write.mode("overwrite").format("noop").save()
        sc.statusTracker.getJobIdsForGroup(group).length
      } finally sc.clearJobGroup()
    }
    val (j2, j6) = (run(2), run(6))
    // the old formulation paid >= 1 driver job + checkpoint per greedy
    // round; partition-local greedy must not scale jobs with k
    assert(j2 == j6, s"driver job count must not grow with k: k=2 -> $j2, k=6 -> $j6")
  }

  test("temperature mixture keeps quotas broadcast and selection k-bounded") {
    import graft.operators.Sampling
    import org.apache.spark.sql.functions._
    val p = plan(Sampling.temperatureMixture(Tables(spark, sf).documents,
      "source", "doc_id", col("n_chars"), totalK = 100))
    assert(p.contains("BroadcastHashJoin"), s"quota join must broadcast:\n$p")
    assert(!p.contains("Window"), s"selection must be the bounded aggregate:\n$p")
  }

  test("interval sweep is one data exchange; sumMap is one exchange of states") {
    import graft.operators.Intervals
    import org.apache.spark.sql.functions._
    val ev = Tables(spark, sf).events
      .withColumn("sms", unix_millis(col("ts")))
      .withColumn("ems", col("sms") + round(col("value") * 1000).cast("long"))
    val sweep = (e: org.apache.spark.sql.DataFrame) =>
      Intervals.maxIntersections(e, col("event_type"), col("sms"), col("ems"))
    // over inputs of three splits
    val pSweep = plan(sweep(Jobs.splitCopy(ev)))
    // union → one hash exchange for the window sort → partial+final agg
    assert("Exchange hashpartitioning".r.findAllIn(pSweep).size == 1,
      s"sweep must shuffle once:\n$pSweep")
    val li = Tables(spark, sf).lineitem
    val sumMap = (l: org.apache.spark.sql.DataFrame) => l
      .select(col("l_returnflag"),
        array(col("l_linenumber").cast("long")).as("ks"),
        array(col("l_quantity").cast("long")).as("vs"))
      .groupBy(col("l_returnflag"))
      .agg(graft.functions.SumMap.sum_map_agg(col("ks"), col("vs")).as("m"))
    val pMap = plan(sumMap(Jobs.splitCopy(li)))
    // the aggregate must be two-phase: partial map states before the
    // exchange, one exchange total (vs explode+groupBy's entry shuffle)
    assert("Exchange hashpartitioning".r.findAllIn(pMap).size == 1,
      s"sumMap must exchange once:\n$pMap")
    assert(pMap.contains("ObjectHashAggregate"),
      s"sumMap must run as a typed (partial-merge) aggregate:\n$pMap")
    // over one small split (the sweep: a union of two) neither plan
    // shuffles at all
    Seq(plan(sweep(ev)), plan(sumMap(li))).foreach { p =>
      assert(!p.contains("Exchange"), s"unexpected shuffle:\n$p")
    }
  }

  test("scaled interval sweeps parallelize by (key, range), carry on tiny frames") {
    import graft.operators.Intervals
    import org.apache.spark.sql.functions._
    val ev = Tables(spark, sf).events
      .withColumn("sms", unix_millis(col("ts")))
      .withColumn("ems", col("sms") + round(col("value") * 1000).cast("long"))
    val sweep = (e: org.apache.spark.sql.DataFrame) =>
      Intervals.maxIntersectionsScaled(e, col("user_id"), col("sms"), col("ems"), nRanges = 16)
    // over an input of three splits
    val p = plan(sweep(Jobs.splitCopy(ev)))
    // the heavy window must sort by (k, rid) — range is in the key
    assert(p.contains("hashpartitioning(k") && p.contains("rid"),
      s"sweep window must partition by (k, rid):\n$p")
    // span seed is a broadcast 1-row aggregate, not a shuffle join
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      s"span must broadcast:\n$p")
    // over the test table's one small split the sweep plans no shuffle
    val micro = sweep(ev).queryExecution.executedPlan
    assert(Jobs.shuffles(micro).isEmpty, s"unexpected shuffle:\n$micro")
  }

  test("skew interval sweeps collapse duplicates in a partial hash aggregate") {
    import graft.operators.Intervals
    import org.apache.spark.sql.functions._
    val ev = Tables(spark, sf).events
      .withColumn("sms", unix_millis(col("ts")))
      .withColumn("ems", col("sms") + round(col("value") * 1000).cast("long"))
    val p = plan(Intervals.maxIntersectionsScaled(
      ev, col("event_type"), col("sms"), col("ems"), nRanges = 64,
      collapseDups = true))
    // the collapse must be a two-phase HASH aggregate (partial runs
    // map-side BEFORE the exchange — that's the whole point: a hot
    // instant's duplicate rows never travel) keyed by (k, rid, t)
    assert("HashAggregate.*keys=\\[k".r.findFirstIn(p).isDefined,
      s"collapse must be a hash aggregate on (k, rid, t):\n$p")
    assert("partial".r.findAllIn(p).nonEmpty,
      s"collapse must have a map-side partial phase:\n$p")
    val pLen = plan(Intervals.intervalLengthSumScaled(
      ev, col("user_id"), col("sms"), col("ems"), nRanges = 16,
      withStats = true, collapseDups = true))
    assert("HashAggregate.*keys=\\[k".r.findFirstIn(pLen).isDefined,
      s"unique-(s,e) collapse must be a hash aggregate:\n$pLen")
  }

  test("scaled length sum with stats stays a single source pass (no stats join)") {
    import graft.operators.Intervals
    import org.apache.spark.sql.functions._
    // the r11 sf10 run measured the join-with-a-second-scan stats
    // variant at 19.5 s vs 3.1 s for the bare sweep — the stats must
    // ride the clipped frame's aggregation, not re-scan the source
    val ev = Tables(spark, sf).events
      .withColumn("sms", unix_millis(col("ts")))
      .withColumn("ems", col("sms") + round(col("value") * 1000).cast("long"))
    val p = plan(Intervals.intervalLengthSumScaled(
      ev, col("user_id"), col("sms"), col("ems"), nRanges = 16,
      withStats = true))
    val scans = "Scan parquet".r.findAllIn(p).size
    assert(scans <= 2, s"expected the span-seed scan + one sweep scan, got $scans:\n$p")
    assert(!p.contains("SortMergeJoin"), s"stats must not join a second scan:\n$p")
  }

  test("q208 repetition signals are in-row: no hash exchange, no join, one scan") {
    // q67 computes the same scores through two hash exchanges of every
    // corpus token; the map-side form must keep all four signals inside
    // the row — the only exchange allowed is the output orderBy's range
    // partitioning, so at 100 TB cost is one scan and no token ever
    // leaves its partition
    val p = plan(graft.queries.Pipeline.queries("q208_repetition_mapside")(spark, sf))
    assert(!p.contains("hashpartitioning"), s"map-side signals must not hash-exchange:\n$p")
    assert(!p.contains("Join"), s"map-side signals must not join:\n$p")
    assert("Scan parquet".r.findAllIn(p).size == 1, s"expected one scan:\n$p")
    assert(!p.contains("Generate"), s"no explode in the map-side form:\n$p")
  }

  // DropMicroShuffles: the shuffle above a single small split goes;
  // everything else plans as without the rule (Jobs.ruleFree plans
  // without AQE, so without its query-stage preparation rules)

  private def sorted(rows: Array[org.apache.spark.sql.Row]): Seq[String] =
    rows.map(_.toString).toSeq.sorted

  /** Shapes over single-split parquet under 32 MiB (sf0.001 tables). */
  private val microShapes: Seq[(String, org.apache.spark.sql.SparkSession => org.apache.spark.sql.DataFrame)] = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    Seq(
      "aggregate" -> (s => Tables(s, sf).lineitem.groupBy("l_returnflag", "l_linestatus")
        .agg(sum("l_quantity").as("q"), count(lit(1)).as("n"))),
      "window" -> (s => Tables(s, sf).orders.select(col("o_custkey"), col("o_orderkey"),
        row_number().over(Window.partitionBy("o_custkey").orderBy("o_orderkey")).as("rn"))),
      "global sort" -> (s => Tables(s, sf).orders.select("o_orderkey", "o_totalprice")
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))),
      "sort-merge join" -> (s => Tables(s, sf).orders
        .join(Tables(s, sf).customer.hint("merge"), col("o_custkey") === col("c_custkey"))
        .select("o_orderkey", "c_name")),
      "rollup" -> (s => Tables(s, sf).lineitem.rollup("l_returnflag", "l_linestatus")
        .agg(sum("l_quantity").as("q"))),
      "union aggregate" -> (s => Tables(s, sf).orders.filter(col("o_orderkey") % 2 === 0)
        .union(Tables(s, sf).orders.filter(col("o_orderkey") % 3 === 0))
        .groupBy("o_orderpriority").count()))
  }

  test("DropMicroShuffles: aggregate, window, global sort, sort-merge join, rollup and union over single-split inputs plan no shuffle and run one job") {
    microShapes.foreach { case (name, q) =>
      val df = q(spark)
      assert(Jobs.shuffles(df).isEmpty, s"$name plans a shuffle:\n${df.queryExecution.executedPlan}")
      val (rows, jobs) = Jobs.counted(spark)(df.collect())
      assert(jobs == 1, s"$name ran $jobs jobs")
      val (want, ruleFreeShuffles) = Jobs.ruleFree(spark) { s =>
        val d = q(s)
        (d.collect(), Jobs.shuffles(d).size)
      }
      assert(ruleFreeShuffles > 0, s"$name has no shuffle to drop even without the rule")
      if (name == "global sort") assert(rows.toSeq == want.toSeq, name)
      else assert(sorted(rows) == sorted(want), name)
    }
  }

  test("DropMicroShuffles: a multi-split input, one with no size estimate under 32 MiB, or a row-multiplying nested-loop join plans the exchanges it plans without the rule") {
    import org.apache.spark.sql.functions._
    val multi = java.nio.file.Files.createTempDirectory("graft-micro-multi").toString
    spark.range(0, 3000, 1, 3).write.mode("overwrite").parquet(multi)
    // an RDD-backed frame carries no origin stats: its estimate is
    // spark.sql.defaultSizeInBytes, so one split is not enough
    val rddFrame = (s: org.apache.spark.sql.SparkSession) => s.createDataFrame(
      s.sparkContext.parallelize((0 until 100).map(i => org.apache.spark.sql.Row(i.toLong)), 1),
      new org.apache.spark.sql.types.StructType().add("id", "long"))
    val shapes: Seq[(String, org.apache.spark.sql.SparkSession => org.apache.spark.sql.DataFrame)] = Seq(
      "multi-split aggregate" -> (s => s.read.parquet(multi).groupBy((col("id") % 7).as("m")).count()),
      "multi-split sort" -> (s => s.read.parquet(multi).orderBy(col("id").desc)),
      "unestimated one-split aggregate" -> (s => rddFrame(s).groupBy((col("id") % 7).as("m")).count()),
      // single-split inputs, but the nested-loop join multiplies the
      // streamed estimate by the build side's rows (the filter leaves
      // five vectors; the estimate keeps all of them)
      "aggregate over a nested-loop join" -> (s => Tables(s, sf).embeddings
        .join(broadcast(Tables(s, sf).embeddings.filter(col("vec_id") < 5)
          .select(col("vec_id").as("q"), col("embedding").as("e"))), col("vec_id") =!= col("q"))
        .groupBy("q").count()))
    shapes.foreach { case (name, q) =>
      val df = q(spark)
      val got = Jobs.shuffles(df).size
      val (want, wantRows) = Jobs.ruleFree(spark) { s =>
        val d = q(s)
        (Jobs.shuffles(d).size, d.collect())
      }
      assert(got > 0 && got == want, s"$name: $got shuffles with the rule, $want without")
      assert(sorted(df.collect()) == sorted(wantRows), name)
    }
  }

  test("DropMicroShuffles: repartition, Tables.spread and bucketed-write exchanges survive") {
    import org.apache.spark.sql.execution.exchange.{REPARTITION_BY_COL, REPARTITION_BY_NUM}
    import org.apache.spark.sql.functions._
    val li = Tables(spark, sf).lineitem
    def origins(df: org.apache.spark.sql.DataFrame) = Jobs.shuffles(df).map(_.shuffleOrigin)
    assert(origins(li.repartition(3).groupBy("l_returnflag").count()).contains(REPARTITION_BY_NUM))
    assert(origins(li.repartition(col("l_returnflag"))).contains(REPARTITION_BY_COL))
    // Tables.spread fans out a single-digit-split input of >= 4 MiB
    val big = java.nio.file.Files.createTempDirectory("graft-micro-spread").toString
    spark.range(0, 700000, 1, 1).select((rand(7) * 1e15).cast("long").as("v"))
      .write.mode("overwrite").parquet(big)
    val spread = Tables.spread(spark, spark.read.parquet(big))
    assert(origins(spread.groupBy((col("v") % 5).as("m")).count()).contains(REPARTITION_BY_NUM),
      s"the spread exchange must survive:\n${spread.queryExecution.executedPlan}")
    // a bucketed write's repartition survives: its shuffle is a job of its own
    val table = s"micro_bucketed_${System.nanoTime()}"
    val loc = java.nio.file.Files.createTempDirectory("graft-micro-bucketed").toString
    val (_, jobs) = Jobs.counted(spark)(li.repartition(4, col("l_orderkey"))
      .write.option("path", loc).mode("overwrite").bucketBy(4, "l_orderkey").saveAsTable(table))
    try assert(jobs >= 2, s"the bucketed write ran $jobs jobs: its repartition was dropped")
    finally spark.sql(s"DROP TABLE IF EXISTS $table")
  }

  test("DropMicroShuffles: a join of a single-split side and a multi-split side keeps both exchanges") {
    import org.apache.spark.sql.functions._
    val multi = java.nio.file.Files.createTempDirectory("graft-micro-join").toString
    spark.range(0, 3000, 1, 3).write.mode("overwrite").parquet(multi)
    val q = (s: org.apache.spark.sql.SparkSession) => Tables(s, sf).orders
      .join(s.read.parquet(multi).hint("merge"), col("o_orderkey") === col("id"))
      .select("o_orderkey", "o_custkey")
    val df = q(spark)
    val shufflePartitions = spark.conf.get("spark.sql.shuffle.partitions").toInt
    assert(Jobs.shuffles(df).size == 2, s"both sides must keep their exchange:\n${df.queryExecution.executedPlan}")
    assert(plans.partitions(df).contains(shufflePartitions))
    assert(sorted(df.collect()) == sorted(Jobs.ruleFree(spark)(s => q(s).collect())))
  }

  test("DropMicroShuffles: a scan filtered by a scalar subquery plans, explains and returns the rule-free rows") {
    import org.apache.spark.sql.functions._
    val dir = java.nio.file.Files.createTempDirectory("graft-micro-subquery").toString
    spark.range(0, 300, 1, 1).select((col("id") % 3).as("dt"), (col("id") % 7).as("k"), col("id").as("x"))
      .write.mode("overwrite").partitionBy("dt").parquet(dir)
    val view = s"micro_subquery_${System.nanoTime()}"
    // a scalar subquery on the partition column, and one on a data column:
    // neither may be evaluated while the rule counts the scan's splits
    val queries = Seq(
      s"SELECT k, count(*) AS n FROM $view WHERE dt = (SELECT max(dt) FROM $view) GROUP BY k",
      s"SELECT k, sum(x) AS s FROM $view WHERE x > (SELECT avg(x) FROM $view) GROUP BY k")
    def rows(s: org.apache.spark.sql.SparkSession, q: String) = {
      s.read.parquet(dir).createOrReplaceTempView(view)
      try {
        val df = s.sql(q)
        assert(df.queryExecution.explainString(org.apache.spark.sql.execution.ExtendedMode).nonEmpty)
        sorted(df.collect())
      } finally s.catalog.dropTempView(view)
    }
    queries.foreach { q =>
      val got = rows(spark, q)
      assert(got.nonEmpty && got == Jobs.ruleFree(spark)(rows(_, q)), q)
    }
  }
}

/** An identity whose generated code counts its evaluations. */
case class CountedEval(child: org.apache.spark.sql.catalyst.expressions.Expression)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {
  import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
  override def dataType: org.apache.spark.sql.types.DataType = child.dataType
  override def nullSafeEval(v: Any): Any = CountedEval.hit(v.asInstanceOf[Long])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.CountedEval.hit($c)")
  override protected def withNewChildInternal(
      c: org.apache.spark.sql.catalyst.expressions.Expression): CountedEval = copy(child = c)
}

object CountedEval {
  val evals = new java.util.concurrent.atomic.AtomicLong
  def hit(v: Long): Long = { evals.incrementAndGet(); v }
}
