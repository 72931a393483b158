package graft

import graft.catalog.{DailyTables, TargetSchema}
import java.nio.file.{Files, Paths}
import java.time.LocalDate

import scala.jdk.CollectionConverters._

class CatalogSpec extends SparkSpec {

  test("TargetSchema resolves string columns and sharding key") {
    val ts = TargetSchema.fromDDL(
      "plat INT, imei STRING, h_id INT, dt DATE, h_did STRING",
      shardingKey = Some("h_did"))
    assert(ts.arity == 5)
    assert(ts.stringCols == Set("imei", "h_did"))
    assert(ts.shardingKeyIndex.contains(4))
  }

  test("TargetSchema validates arity") {
    val ts = TargetSchema.fromDDL("a INT, b STRING")
    import spark.implicits._
    ts.validate(Seq((1, "x")).toDF("a", "b"))
    intercept[IllegalArgumentException](
      ts.validate(Seq(1).toDF("a")))
  }

  test("daily-table lifecycle: create, merge expired, drop") {
    import spark.implicits._
    val wh = java.nio.file.Files.createTempDirectory("graft-daily").toString
    spark.sql(s"CREATE DATABASE IF NOT EXISTS dailydb LOCATION '$wh'")
    spark.sql("DROP TABLE IF EXISTS dailydb.base")
    spark.sql("CREATE TABLE dailydb.base (k INT, v STRING) USING parquet")

    val daily = new DailyTables(spark)
    val dt = LocalDate.of(2017, 1, 7)
    // three daily tables: two expired (>2 days old), one fresh
    Seq(5L, 3L, 0L).foreach { daysAgo =>
      val t = daily.createDaily("dailydb.base", dt.minusDays(daysAgo))
      Seq((daysAgo.toInt, s"d$daysAgo")).toDF("k", "v")
        .write.mode("append").insertInto(s"$t")
    }
    assert(daily.listDaily("dailydb", "base").size == 3)

    val merged = daily.mergeExpired("dailydb", "dailydb.base", dt, expiresDays = 2)
    assert(merged.size == 2, s"merged=$merged")
    // expired rows landed in base; fresh daily table still exists
    val baseRows = spark.table("dailydb.base").collect().map(_.getInt(0)).sorted
    assert(baseRows.toSeq == Seq(3, 5))
    assert(daily.listDaily("dailydb", "base").size == 1)
  }

  test("daily-expires-process drop discards expired dailies without merging") {
    import spark.implicits._
    val wh = java.nio.file.Files.createTempDirectory("graft-dailydrop").toString
    spark.sql(s"CREATE DATABASE IF NOT EXISTS dailydropdb LOCATION '$wh'")
    spark.sql("DROP TABLE IF EXISTS dailydropdb.base")
    spark.sql("CREATE TABLE dailydropdb.base (k INT, v STRING) USING parquet")
    val daily = new DailyTables(spark)
    val dt = LocalDate.of(2017, 1, 7)
    Seq(5L, 0L).foreach { daysAgo =>
      val t = daily.createDaily("dailydropdb.base", dt.minusDays(daysAgo))
      Seq((daysAgo.toInt, s"d$daysAgo")).toDF("k", "v")
        .write.mode("append").insertInto(t)
    }
    val dropped = daily.mergeExpired("dailydropdb", "dailydropdb.base", dt,
      expiresDays = 2, merge = false)
    assert(dropped.size == 1)
    // drop mode: the expired rows are GONE, not merged into base
    assert(spark.table("dailydropdb.base").count() == 0)
    assert(daily.listDaily("dailydropdb", "base").size == 1)
  }

  test("SQL function registration exposes the custom expressions") {
    val r = spark.sql(
      """SELECT graft_shard_code('20170107') AS sc,
        |       graft_hash64('abc') AS h,
        |       graft_qdot(array(1L, 2L, 3L), array(4L, 5L, 6L)) AS dot,
        |       size(graft_shingle_hashes('a b c d', 3)) AS nsh,
        |       size(graft_minhash_sig(graft_shingle_hashes('a b c d', 3), 16)) AS k,
        |       graft_simhash('a b c') AS sim
        |""".stripMargin).collect()(0)
    assert(r.getInt(0) == graft.functions.Murmur3.shardCode("20170107"))
    assert(r.getLong(1) == graft.functions.Murmur3.hash64("abc"))
    assert(r.getLong(2) == 4L + 10L + 18L)
    assert(r.getInt(3) == 2)
    assert(r.getInt(4) == 16)
    // NFC: decomposed e+U+0301 composes to U+00E9; already-NFC input
    // passes through unchanged. (The combining mark is embedded as a
    // real codepoint — Spark's chr() is mod-256 ASCII and can't build
    // it in SQL.)
    val n = spark.sql("SELECT graft_nfc('cafe\u0301'), graft_nfc('plain')")
      .collect()(0)
    assert(n.getString(0) == "caf\u00e9")
    assert(n.getString(1) == "plain")
    // PQ ADC: codes [1, 0] over a 2-subspace, k=2 flattened table
    // [t00, t01, t10, t11] pick t01 + t10
    val adc = spark.sql(
      "SELECT graft_pq_adc(array(1, 0), array(10L, 20L, 30L, 40L), 2)")
      .collect()(0)
    assert(adc.getLong(0) == 20L + 30L)
    // Bloom + CMS round-trip through the SQL surface against the
    // DataFrame-built aggregates
    import graft.functions.{BloomAgg, CountMinAgg}
    import org.apache.spark.sql.functions.col
    spark.range(7, 10).select(col("id").as("h"))
      .agg(BloomAgg.bloom_agg(col("h"), 256, 5).as("bf"),
        CountMinAgg.countmin_agg(col("h"), 3, 64).as("sk"))
      .createOrReplaceTempView("sketches")
    val probe = spark.sql(
      """SELECT graft_bloom_contains(7L, bf, 5) AS hit,
        |       graft_cms_estimate(8L, sk, 3) AS est
        |FROM sketches""".stripMargin).collect()(0)
    assert(probe.getBoolean(0))
    assert(probe.getLong(1) >= 1L)
  }

  test("one session definition: only GraftSession builds a session, and the suite runs its settings") {
    // spelled with \s* so that this line is no match itself
    val builderCall = """SparkSession\s*\.\s*builder""".r
    val sources = Seq("src/main/scala", "src/test/scala").flatMap { root =>
      assert(Files.isDirectory(Paths.get(root)), s"run from the project root: $root")
      val walk = Files.walk(Paths.get(root))
      try walk.iterator.asScala.filter(_.toString.endsWith(".scala")).toList
      finally walk.close()
    }
    assert(sources.exists(_.endsWith("GraftSession.scala")))
    val builders = sources.filterNot(_.endsWith("GraftSession.scala"))
      .filter(p => builderCall.findFirstIn(Files.readString(p)).isDefined)
    assert(builders.isEmpty,
      s"sessions must come from GraftSession.local, built in: ${builders.mkString(", ")}")
    // the SparkContext conf holds the builder's settings as built;
    // the runtime conf may have been changed since (Readers.readText
    // sets the split size from its LoaderConfig)
    val built = spark.sparkContext.getConf
    assert(built.get("spark.sql.files.maxPartitionBytes") ==
      GraftSession.MaxPartitionBytes.toString)
    assert(built.get("spark.sql.codegen.cache.maxEntries") ==
      GraftSession.CodegenCacheEntries.toString)
  }

  test("graft_zorder rejects non-int children at analysis, not runtime") {
    // int children work
    val z = spark.sql("SELECT graft_zorder(3, 5) AS z").collect()(0).getLong(0)
    assert(z == graft.functions.ZOrderOps.interleave(3, 5))
    // a bigint child (the common id case) must fail CLEANLY at
    // analysis — not ClassCastException interpreted / janino codegen'd
    val e = intercept[Exception] {
      spark.sql("SELECT graft_zorder(CAST(3 AS BIGINT), 5)").collect()
    }
    val msg = e.getMessage
    assert(msg.contains("INT") || msg.contains("DATATYPE_MISMATCH"),
      s"expected an analysis-time type error, got: $msg")
  }
}
