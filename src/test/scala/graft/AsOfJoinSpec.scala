package graft

import graft.operators.AsOfJoin
import org.apache.spark.sql.functions._

class AsOfJoinSpec extends SparkSpec {

  test("as-of join picks the latest right row at or before the left ts") {
    import spark.implicits._
    val left = Seq((1L, 10L), (1L, 20L), (1L, 5L), (2L, 100L))
      .toDF("k", "tms").withColumn("lid", monotonically_increasing_id())
    val right = Seq((1L, 8L, "r8"), (1L, 10L, "r10"), (1L, 15L, "r15"), (2L, 200L, "r200"))
      .toDF("k", "tms", "v")
    val out = AsOfJoin.asOfInner(left, right, "k", "tms", Seq("v"))
      .select("k", "tms", "v").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
    assert(out == Set(
      (1L, 10L, "r10"), // exact tie matches (>= semantics)
      (1L, 20L, "r15")))
    // k=1 tms=5 has no prior right row → dropped (inner); k=2 at 100 < 200 → dropped
  }

  test("as-of join plans one exchange (union + single window sort)") {
    import spark.implicits._
    val left = Seq((1L, 10L), (2L, 20L), (3L, 30L)).toDF("k", "tms")
    val right = Seq((1L, 8L, 1.0), (2L, 18L, 2.0), (3L, 28L, 3.0)).toDF("k", "tms", "v")
    // inputs of three splits each: the exchange stays
    val p = AsOfJoin.asOfInner(Jobs.splitCopy(left), Jobs.splitCopy(right), "k", "tms", Seq("v"))
      .queryExecution.executedPlan.toString
    assert("Exchange".r.findAllIn(p).size == 1, s"expected exactly 1 exchange:\n$p")
    assert(!p.contains("Join"), s"no join node expected (window-composed):\n$p")
    // two one-row inputs, one split each: DropMicroShuffles drops that exchange
    val micro = AsOfJoin.asOfInner(Seq((1L, 10L)).toDF("k", "tms"),
      Seq((1L, 8L, 1.0)).toDF("k", "tms", "v"), "k", "tms", Seq("v")).queryExecution.executedPlan
    assert(Jobs.shuffles(micro).isEmpty, s"unexpected shuffle:\n$micro")
  }
}
