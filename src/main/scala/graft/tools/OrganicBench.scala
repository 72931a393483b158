package graft.tools

import graft.GraftSession
import graft.operators.{Dedup, Similarity}
import org.apache.spark.sql.functions._

/** Scale measurements on ORGANIC corpora ([[OrganicGen]]) — the two
  * claims ScaleUp replication cannot test (its unique content is
  * frozen at sf0.1 volume):
  *
  *  1. `neardup`: posting/set tables of the persisted near-dup index
  *     GROW with n (organic decade point), and the probe stays
  *     batch-priced against them.
  *  2. `lshrecall`: q227-style recall at the CORPUS-ADAPTIVE plane
  *     count (⌈log2(n/2048)⌉ > the 5-plane gate floor) for a sweep of
  *     nProbe values — the measurement behind deriving nProbe from
  *     the plane count to hold the 0.6 audit bound at scale.
  *
  * Usage:
  *   tools/jrun.sh graft.tools.OrganicBench neardup <organicDir> [probePct]
  *   tools/jrun.sh graft.tools.OrganicBench lshrecall <organicDir> [nQueries]
  */
object OrganicBench {
  def main(args: Array[String]): Unit = {
    val mode = args(0)
    val dir = args(1)
    val spark = GraftSession.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)
    import spark.implicits._

    def timeS[T](f: => T): (T, Double) = {
      val t0 = System.nanoTime(); val r = f; (r, (System.nanoTime() - t0) / 1e9)
    }

    mode match {
      case "neardup" =>
        val docs = spark.read.parquet(s"$dir/documents.parquet")
          .select($"doc_id", $"text")
        val corpus = docs.filter($"doc_id" % 5 =!= 0)
        val probe = docs.filter($"doc_id" % 5 === 0).cache()
        val nProbe = probe.count()
        val idx = java.nio.file.Files.createTempDirectory("graft-orgnd").toString
        val (_, tBuild) = timeS {
          Dedup.appendNearDupIndex(spark, corpus, "doc_id", "text", idx)
        }
        val fs = new org.apache.hadoop.fs.Path(idx)
          .getFileSystem(spark.sparkContext.hadoopConfiguration)
        def bytes(sub: String) = fs.getContentSummary(
          new org.apache.hadoop.fs.Path(s"$idx/$sub")).getLength
        val (pairs, tProbe) = timeS {
          Dedup.nearDupProbeIndexed(spark, idx, probe, "doc_id", "text", 0.8).count()
        }
        val (_, tProbe2) = timeS {
          Dedup.nearDupProbeIndexed(spark, idx, probe, "doc_id", "text", 0.8).count()
        }
        println(s"[organic-neardup] dir=$dir corpusDocs=${docs.count() - nProbe} " +
          s"probeDocs=$nProbe bandsBytes=${bytes("bands")} setsBytes=${bytes("sets")} " +
          f"build=$tBuild%.2f s probe=${math.min(tProbe, tProbe2)}%.2f s pairs=$pairs")
        def rm(p: java.io.File): Unit = {
          val kids = p.listFiles(); if (kids != null) kids.foreach(rm)
          p.delete(); ()
        }
        rm(new java.io.File(idx))

      case "lshrecall" =>
        val nQ = if (args.length > 2) args(2).toInt else 500
        val corpus = Similarity.prepare(
          spark.read.parquet(s"$dir/embeddings.parquet"), "vec_id", "embedding")
          .cache()
        val n = corpus.count()
        val planes = math.max(5, math.ceil(
          math.log(n.toDouble / 2048.0) / math.log(2.0)).toInt)
        val queries = corpus.filter($"vid" < nQ).cache()
        val truth = Similarity.bruteForceTopK(queries, corpus, 5).cache()
        val nTruth = truth.count()
        def recall(approx: org.apache.spark.sql.DataFrame): Double =
          truth.join(approx, Seq("query_id", "neighbor_id"), "left_semi")
            .count().toDouble / nTruth
        println(s"[organic-lsh] dir=$dir n=$n adaptivePlanes=$planes nTruth=$nTruth")
        // sweep: single probe, the q227 gate's 3, the old single-flip
        // cap (planes+1), and the AutoProbe derivation (3+2·extra —
        // multi-bit perturbations past the old cap)
        Seq(1, 3, planes + 1, 3 + 2 * (planes - 5))
          .map(np => math.max(1, math.min(np, 4 * planes)))
          .distinct.sorted.foreach { np =>
          val (r, t) = timeS {
            recall(Similarity.lshTopK(corpus, dim = 64, nPlanes = 5, k = 5,
              nTables = 8, nProbe = np, queries = queries, knownCount = n))
          }
          println(f"[organic-lsh] nProbe=$np recall=$r%.3f wall=$t%.1f s")
        }

      case "split" =>
        // STANDING LEAKAGE-SAFE SPLIT decade (r15 verdict item 8):
        // applySplitBatch in sequential batches over an organic
        // corpus — per-batch wall (probe-assign + index append + the
        // atomic four-table commit), standing-table growth,
        // redelivery no-op cost, compaction win, and a post-compaction
        // batch to show assignment stays batch-priced against the
        // compacted tables. Closes with the leak audit the operator
        // exists for: every matched doc inherits its match's side.
        val nBatches = if (args.length > 2) args(2).toInt else 5
        val docs = spark.read.parquet(s"$dir/documents.parquet")
          .select($"doc_id", $"text")
        val n = docs.count()
        val idx = java.nio.file.Files.createTempDirectory("graft-orgsplit").toString
        val fs = new org.apache.hadoop.fs.Path(idx)
          .getFileSystem(spark.sparkContext.hadoopConfiguration)
        def bytes(sub: String) =
          try fs.getContentSummary(
            new org.apache.hadoop.fs.Path(s"$idx/$sub")).getLength
          catch { case _: Throwable => 0L }
        def files(sub: String) =
          try fs.listStatus(new org.apache.hadoop.fs.Path(s"$idx/$sub"))
            .count(f => f.isFile && !f.getPath.getName.startsWith("_"))
          catch { case _: Throwable => 0 }
        println(s"[organic-split] dir=$dir n=$n batches=$nBatches")
        (0 until nBatches - 1).foreach { b =>
          val (applied, t) = timeS {
            graft.streaming.StreamingIndex.applySplitBatch(
              docs.filter($"doc_id" % nBatches === b), "doc_id", "text",
              idx, batchId = b.toLong)
          }
          println(f"[organic-split] batch=$b applied=$applied wall=$t%.2f s " +
            s"sidesBytes=${bytes("sides")} bandsBytes=${bytes("bands")} " +
            s"setsBytes=${bytes("sets")}")
        }
        val (re, tRe) = timeS {
          graft.streaming.StreamingIndex.applySplitBatch(
            docs.filter($"doc_id" % nBatches === 1), "doc_id", "text",
            idx, batchId = 1L)
        }
        println(f"[organic-split] redelivery applied=$re wall=$tRe%.2f s")
        val sidesFilesBefore = files("sides")
        val (_, tCompact) = timeS {
          graft.operators.Curation.compactSplitAssign(spark, idx)
          Dedup.compactNearDupIndex(spark, idx)
        }
        println(f"[organic-split] compact wall=$tCompact%.2f s " +
          s"sidesFiles=$sidesFilesBefore->${files("sides")} " +
          s"sidesBytes=${bytes("sides")}")
        val (_, tPost) = timeS {
          graft.streaming.StreamingIndex.applySplitBatch(
            docs.filter($"doc_id" % nBatches === (nBatches - 1)), "doc_id",
            "text", idx, batchId = (nBatches - 1).toLong)
        }
        println(f"[organic-split] post-compact batch wall=$tPost%.2f s")
        // leak audit: a matched doc's side must equal its match's side
        val sides = spark.read.parquet(s"$idx/sides").cache()
        val leaks = sides.filter($"best_b".isNotNull).as("a")
          .join(sides.select($"doc_id".as("best_b"),
            $"side".as("b_side")), Seq("best_b"))
          .filter($"side" =!= $"b_side").count()
        val bySide = sides.groupBy($"side").count().collect()
          .map(r => s"${r.getString(0)}=${r.getLong(1)}").sorted.mkString(" ")
        println(s"[organic-split] assigned=${sides.count()} $bySide " +
          s"crossSideLeaks=$leaks")
        sides.unpersist()
        def rmSplit(p: java.io.File): Unit = {
          val kids = p.listFiles(); if (kids != null) kids.foreach(rmSplit)
          p.delete(); ()
        }
        rmSplit(new java.io.File(idx))

      case other => sys.error(s"unknown mode: $other")
    }
    spark.stop()
  }
}
