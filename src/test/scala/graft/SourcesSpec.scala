package graft

import graft.config.LoaderConfig
import graft.operators.TransformStage
import graft.sources.Readers
import java.nio.file.{Files, Paths}

class SourcesSpec extends SparkSpec {

  test("readText decodes pipe-delimited rows incl. the reference's test row") {
    // TextRecordDecoderTest.java:27 fixture line + a trailing-empty-field
    // row (TextLoaderMapperTest.java:26 shape)
    val dir = Files.createTempDirectory("graft-text")
    Files.writeString(Paths.get(dir.toString, "part-0000.txt"),
      "2017-04-16|pc|弹幕|7575|8417|0|0|0|0|0|0|\\N\n" +
        "2017-04-17|h5|x|1|2|3|4|5|6|7|8|\n")
    val cfg = LoaderConfig(exportDir = dir.toString, fieldsTerminatedBy = "|")
    val df = Readers.readText(spark, cfg)
    assert(df.columns.length == 12)
    val rows = df.collect().map(_.toSeq.map(_.asInstanceOf[String]))
    val r1 = rows.find(_.head == "2017-04-16").get
    assert(r1(2) == "弹幕" && r1(11) == "\\N")
    val r2 = rows.find(_.head == "2017-04-17").get
    assert(r2(11) == "", "trailing empty field must be preserved")
  }

  test("text → transform pipeline reproduces reference null/sanitize behavior") {
    val dir = Files.createTempDirectory("graft-text2")
    Files.writeString(Paths.get(dir.toString, "data.txt"),
      "a\\x|\\N|7\n")
    val cfg = LoaderConfig(exportDir = dir.toString, fieldsTerminatedBy = "|")
    val df = Readers.readText(spark, cfg)
    val out = df.select(
      TransformStage.normalizeField(df("c0"), isStringCol = true, cfg),
      TransformStage.normalizeField(df("c1"), isStringCol = false, cfg),
      TransformStage.normalizeField(df("c2"), isStringCol = false, cfg))
      .collect()(0)
    assert(out.getString(0) == "a/x") // backslash sanitized
    assert(out.getString(1) == "0")   // \N null marker → nullNonString
    assert(out.getString(2) == "7")
  }

  test("readOrc parity mode flattens all columns to strings") {
    val dir = Files.createTempDirectory("graft-orc").toString + "/li"
    Tables(spark, sf).lineitem.limit(100).write.mode("overwrite").orc(dir)
    val typed = Readers.readOrc(spark, dir)
    val parity = Readers.readOrc(spark, dir, parityMode = true)
    assert(typed.schema.fields.exists(_.dataType != org.apache.spark.sql.types.StringType))
    assert(parity.schema.fields.forall(_.dataType == org.apache.spark.sql.types.StringType))
    assert(parity.count() == 100)
    // stringly values match the typed values' string forms
    val t = typed.orderBy("l_orderkey", "l_linenumber").collect()
    val p = parity.orderBy(parity("l_orderkey").cast("long"),
      parity("l_linenumber").cast("int")).collect()
    assert(t.head.getDouble(4).toString == p.head.getString(4))
  }

  test("small-file packing conf is applied from LoaderConfig") {
    // the load's split cap applies inside the load, and only there
    val dir = Files.createTempDirectory("graft-split")
    // 3 MiB: one split under the session's packing (its 4 MiB open
    // cost is the smallest split), three under a 1 MiB cap
    val line = "0123456789abcdef|0123456789abcdef|0123456789abcdefghijklmnopqrstuvwxyz\n"
    Files.writeString(Paths.get(dir.toString, "f.txt"), line * (3 * 1024 * 1024 / line.length))
    val cfg = LoaderConfig(exportDir = dir.toString, inputSplitMaxBytes = 1024L * 1024)
    def splits() = graft.plans.partitions(Readers.readText(spark, cfg, Some(3)))
    assert(Readers.withSplitCap(spark, cfg)(splits()) == Some(3))
    assert(splits() == Some(1), "outside the load the session's split size applies")
    // a direct load of one shard flushes one batch per scan task
    val report = LoaderJob.runDirect(spark, cfg.copy(table = "t"),
      graft.catalog.TargetSchema.fromDDL("c0 STRING, c1 STRING, c2 STRING"),
      graft.operators.ShardSpec(Seq(1)), graft.sinks.CollectingExecutor)
    assert(report.batches == 3, s"${report.batches} load tasks, want one per 1 MiB split")
  }
}
