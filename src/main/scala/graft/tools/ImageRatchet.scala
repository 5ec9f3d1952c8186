package graft.tools

import org.apache.spark.sql.functions._
import graft.queries.Lineage.CutOps

/** Image near-dup pipeline ratchet with mechanical drop accounting.
  *
  * At ratchet scales (500k+ docs) the synthetic dHash space concentrates
  * and band buckets exceed the 1000-doc cap (k=1144 at 500k), so the
  * graded fail-loud mode cannot run — THIS tool runs the pipeline in drop
  * mode and reports what the cap did, deterministically (a groupBy
  * histogram, not an accumulator side effect):
  *
  *   GRAFT_SCALE_COPIES=1000 sbt "runMain graft.tools.DocScale /root/testdata/sf0.1 /tmp/graft_docs1000x"
  *   SPARK_GRAFT_CPUS=32 java -cp ... graft.tools.ImageRatchet /tmp/graft_docs1000x
  *
  * Prints one JSON line: docs, bucket histogram (live / dropped / max k),
  * confirmed pair count, CC rounds, keep-list size, stage timings.
  */
object ImageRatchet {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/tmp/graft_docs100x")
    val maxBucket = sys.env.getOrElse("GRAFT_RATCHET_MAXBUCKET", "1000").toInt
    val s = graft.LocalSession.buildBench(
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
    def timed[T](f: => T): (T, Double) = {
      val t0 = System.nanoTime(); val r = f; (r, (System.nanoTime() - t0) / 1e9)
    }

    val (hashes, tHash) = timed {
      val h = graft.queries.LlmQueries.imageHashes(s, sfDir)
      h.count() // materialize the decode+hash stage behind the lineage cut
      h
    }
    val nDocs = hashes.count()

    // deterministic bucket histogram — the accounting the graded-mode
    // assert_true replaces at gate scale
    val bands = hashes
      .select(col("doc_id"), posexplode(col("bands")))
      .withColumnRenamed("pos", "bidx").withColumnRenamed("col", "bv")
    val hist = bands.groupBy(col("bidx"), col("bv"))
      .agg(count(lit(1)).as("k")).filter(col("k") > 1)
    val (histRow, tHist) = timed {
      hist.agg(count(lit(1)), sum(when(col("k") > maxBucket, 1L).otherwise(0L)),
        max(col("k"))).head()
    }
    val (liveBuckets, droppedBuckets, maxK) =
      (histRow.getLong(0), histRow.getLong(1), histRow.getLong(2))

    // one pair materialization reused by the count and the CC stage —
    // the l68 plan shape (pairs are not re-derived per consumer)
    val (pairs, tPairs) = timed {
      val p = graft.queries.LlmQueries
        .bandedHashPairs(hashes, maxBucket, failOnDrop = false,
          maxHamming = 6, what = "image dHash")
        .cut()
      p.count()
      p
    }
    val nPairs = pairs.count()

    val ((keep, rounds), tCc) = timed {
      val cc = graft.queries.LlmQueries.starComponents(pairs)
      (cc.state.agg(count(lit(1)),
        sum(when(col("doc_id") === col("cluster_id"), 1L).otherwise(0L))).head(),
        cc.rounds)
    }

    println(s"""{"metric":"image_ratchet","sf":"$sfDir","docs":$nDocs,""" +
      s""""max_bucket_cap":$maxBucket,"live_buckets":$liveBuckets,""" +
      s""""dropped_buckets":$droppedBuckets,"max_bucket_k":$maxK,""" +
      s""""pairs":$nPairs,"cc_rounds":$rounds,""" +
      s""""clustered_docs":${keep.getLong(0)},"keepers":${keep.getLong(1)},""" +
      f""""sec":{"hash":$tHash%.1f,"hist":$tHist%.1f,"pairs":$tPairs%.1f,"cc":$tCc%.1f}}""")
    s.stop()
  }
}
