package graft.sources

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite
import graft.SharedSpark
import graft.tools.MiniS3

/** The planner's memo (PlanMemo, GraftScan.indexes): repeat plans of an
  * unchanged indexed file read no index, an index written after a first
  * plan is used by the next one (misses are not memoized), a rewritten
  * file re-keys, the least recently used entry is evicted at capacity, and
  * no lock is held across a load. The request-shaped cases run against the
  * in-process MiniS3 and count the GETs on the `.tbi` key.
  */
class PlanMemoSpec extends AnyFunSuite with SharedSpark {

  /** A bgzipped VCF with its `.tbi`: `perChrom` records on chr1, at 1, 101, … */
  private def indexedVcf(perChrom: Int): (Array[Byte], Array[Byte]) = {
    val data = new java.io.ByteArrayOutputStream()
    val w = new BgzfWriter(data)
    val tbi = new TabixWriter(Seq("chr1"))
    w.write("##fileformat=VCFv4.2\n#CHROM\tPOS\tID\tREF\tALT\tQUAL\tFILTER\tINFO\n"
      .getBytes("US-ASCII"))
    for (i <- 0 until perChrom) {
      val pos = i * 100 + 1
      val vs = w.virtualPos
      w.write(s"chr1\t$pos\t.\tA\tG\t50\tPASS\tAC=1\n".getBytes("US-ASCII"))
      tbi.add(0, pos - 1, pos, vs, w.virtualPos)
    }
    w.finish()
    val idx = graft.TestTmp.file("memo", ".tbi")
    tbi.write(idx)
    (data.toByteArray, java.nio.file.Files.readAllBytes(idx))
  }

  /** fs.s3.* keys are global to the shared session: save/restore them. */
  private def withS3(f: MiniS3 => Unit): Unit = {
    val s3 = new MiniS3().start()
    val conf = spark.sparkContext.hadoopConfiguration
    val keys = Seq("fs.s3.impl", "fs.s3.endpoint", "fs.s3.impl.disable.cache")
    val saved = keys.map(k => k -> Option(conf.get(k)))
    conf.set("fs.s3.impl", classOf[graft.sources.s3.S3HttpFileSystem].getName)
    conf.set("fs.s3.endpoint", s3.endpoint)
    conf.set("fs.s3.impl.disable.cache", "true")
    try f(s3) finally {
      s3.stop()
      saved.foreach { case (k, v) =>
        v match { case Some(x) => conf.set(k, x); case None => conf.unset(k) }
      }
    }
  }

  private def regionQuery(path: String): DataFrame =
    spark.read.format("vcf").load(path).where("chrom = 'chr1' AND pos BETWEEN 1001 AND 2000")

  /** Plans the scan (no rows read) and returns its chunks. */
  private def chunksOf(df: DataFrame): Seq[FileChunk] =
    df.queryExecution.executedPlan.collect {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b
    }.flatMap(_.batch.planInputPartitions())
      .collect { case g: GraftInputPartition => g }.flatMap(_.chunks)

  private def tbiGets(s3: MiniS3, key: String)(body: => Unit): Int = {
    val before = s3.requests.size
    body
    s3.requests.asScala.drop(before).count(r => r._1 == "GET" && r._2.endsWith(key + ".tbi"))
  }

  test("a second plan of an unchanged indexed file reads no index") {
    withS3 { s3 =>
      val (vcf, tbi) = indexedVcf(100)
      s3.put("graft-memo", "a/calls.vcf.gz", vcf)
      s3.put("graft-memo", "a/calls.vcf.gz.tbi", tbi)
      val path = "s3://graft-memo/a/calls.vcf.gz"
      var first, second = Seq.empty[FileChunk]
      val firstGets = tbiGets(s3, "a/calls.vcf.gz") { first = chunksOf(regionQuery(path)) }
      assert(firstGets >= 1, "the first plan must read the .tbi")
      val secondGets = tbiGets(s3, "a/calls.vcf.gz") { second = chunksOf(regionQuery(path)) }
      assert(secondGets == 0, s"the second plan read the .tbi $secondGets time(s)")
      assert(first.nonEmpty && first.forall(_.kind == ChunkKind.Virtual))
      assert(second.map(c => (c.vStart, c.vEnd)) == first.map(c => (c.vStart, c.vEnd)))
      assert(regionQuery(path).count() == 10)
    }
  }

  test("a .tbi written after a first plan is used by the next plan") {
    withS3 { s3 =>
      val (vcf, tbi) = indexedVcf(100)
      s3.put("graft-memo", "b/calls.vcf.gz", vcf)
      val path = "s3://graft-memo/b/calls.vcf.gz"
      val unindexed = chunksOf(regionQuery(path))
      assert(unindexed.nonEmpty && unindexed.forall(_.kind != ChunkKind.Virtual),
        "without a .tbi the plan cannot hold index chunks")
      s3.put("graft-memo", "b/calls.vcf.gz.tbi", tbi) // the index appears between plans
      val indexed = chunksOf(regionQuery(path))
      assert(indexed.nonEmpty && indexed.forall(_.kind == ChunkKind.Virtual),
        "the missing index must not have been memoized")
      assert(regionQuery(path).count() == 10)
    }
  }

  test("a rewritten file (new length) is re-keyed and its new index read") {
    withS3 { s3 =>
      val (vcf, tbi) = indexedVcf(100)
      s3.put("graft-memo", "c/calls.vcf.gz", vcf)
      s3.put("graft-memo", "c/calls.vcf.gz.tbi", tbi)
      val path = "s3://graft-memo/c/calls.vcf.gz"
      chunksOf(regionQuery(path))
      val (vcf2, tbi2) = indexedVcf(300)
      assert(vcf2.length != vcf.length)
      s3.put("graft-memo", "c/calls.vcf.gz", vcf2)
      s3.put("graft-memo", "c/calls.vcf.gz.tbi", tbi2)
      val gets = tbiGets(s3, "c/calls.vcf.gz") { chunksOf(regionQuery(path)) }
      assert(gets >= 1, "a rewritten file must not be served its old index")
      assert(regionQuery(path).count() == 10)
    }
  }

  test("the capacity evicts the least recently used entry") {
    val memo = new PlanMemo[String, Int](capacity = 2)
    assert(memo("a")(1) == 1)
    assert(memo("b")(2) == 2)
    assert(memo("a")(-1) == 1) // a hit: `a` is now the most recently used
    assert(memo("c")(3) == 3)  // evicts `b`, the least recently used
    assert(memo("a")(-1) == 1 && memo("c")(-1) == 3, "the two recent entries stay")
    assert(memo("b")(4) == 4, "the least recently used entry was evicted")
  }

  test("a rejected value is returned but not memoized") {
    val memo = new PlanMemo[String, Option[Int]](keep = _.isDefined)
    var loads = 0
    def load(v: Option[Int]): Option[Int] = { loads += 1; v }
    assert(memo("k")(load(None)).isEmpty)
    assert(memo("k")(load(Some(7))).contains(7)) // loaded again: None was not kept
    assert(memo("k")(load(Some(8))).contains(7))
    assert(loads == 2)
  }

  test("no lock is held across a load") {
    val memo = new PlanMemo[String, String]()
    val pool = java.util.concurrent.Executors.newSingleThreadExecutor()
    try {
      val v = memo("slow") {
        // another thread uses the memo while this load is running
        val other = pool.submit(new java.util.concurrent.Callable[String] {
          override def call(): String = memo("fast")("f")
        })
        other.get(10, java.util.concurrent.TimeUnit.SECONDS)
        "s"
      }
      assert(v == "s" && memo("fast")("x") == "f" && memo("slow")("x") == "s")
    } finally pool.shutdownNow()
  }
}
