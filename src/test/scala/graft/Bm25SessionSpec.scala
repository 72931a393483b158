package graft

import graft.operators.Retrieval

/** The BM25 index seen from two sessions: a streaming `foreachBatch`
  * runs in a clone of the session that probes, so appends and
  * compactions land from a session other than the prober's. A probe
  * must answer from the index as it is now, not from the file listing
  * its own session cached when it last read the tables.
  */
class Bm25SessionSpec extends SparkSpec {

  test("a probe sees an append and a compaction made from another session, with no refresh") {
    import spark.implicits._
    val qs = Seq(1L -> "spark window join", 2L -> "dup the scan", 3L -> "the a of")
    def mkDb(name: String): String = {
      val loc = java.nio.file.Files.createTempDirectory(s"graft-$name").toString
      spark.sql(s"DROP DATABASE IF EXISTS $name CASCADE")
      spark.sql(s"CREATE DATABASE $name LOCATION '$loc'")
      name
    }
    val (db, full) = (mkDb("bm25sess_inc"), mkDb("bm25sess_full"))
    def probe(d: String) = Retrieval.bm25TopKIndexed(spark, d, qs, k = 10).collect().toSet
    try {
      val docs = Tables(spark, sf).documents
      Retrieval.buildBm25Index(docs.filter($"doc_id" % 2 === 0), "doc_id", "text", db)
      Retrieval.buildBm25Index(docs, "doc_id", "text", full)
      val want = probe(full)
      // session A probes, caching its listing of the half index
      val halfAnswer = probe(db)
      assert(halfAnswer != want, "the half index must answer differently")
      // session B appends the other half
      val b = spark.newSession()
      val rest = Tables(b, sf).documents
      Retrieval.appendToBm25Index(rest.filter(rest("doc_id") % 2 =!= 0), "doc_id", "text", db)
      assert(probe(db) == want, "A's probe after B's append must equal the from-scratch build")
      // B compacts: every appended segment is folded, none dropped
      Retrieval.compactBm25Index(b, db)
      val fresh = spark.newSession()
      assert(fresh.table(s"$db.dfreq").collect().toSet ==
        fresh.table(s"$full.dfreq").collect().toSet,
        "compacted dfreq must equal the from-scratch table")
      assert(probe(db) == want, "A's probe after B's compaction must equal the from-scratch build")
    } finally {
      spark.sql(s"DROP DATABASE IF EXISTS $db CASCADE")
      spark.sql(s"DROP DATABASE IF EXISTS $full CASCADE")
    }
  }
}
