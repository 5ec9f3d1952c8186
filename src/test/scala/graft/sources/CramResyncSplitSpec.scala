package graft.sources

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.SharedSpark
import graft.tools.MiniS3

/** Task-open resync split of unindexed CRAMs (ChunkKind.Container +
  * CramFormat.resyncContainerStart). The planner cuts at RAW offsets in
  * O(1) driver work (one cached 6-byte magic sniff) and each task aligns
  * itself to the first CRC-validated container start it owns — planning
  * cost is independent of container count, which a driver-side sweep of
  * container headers could not achieve once containers outgrew its
  * read-ahead window (every real ~1-5 MB-container CRAM). Pinned here:
  *   - rows are invariant to the chunking, across cut sizes (cuts land
  *     inside the FILE_HEADER container, mid-container, and on container
  *     starts);
  *   - planning an unindexed CRAM on an object store costs O(1) GETs on
  *     the object, at the many-small-containers and the realistic shape;
  *   - a `.crai` appearing next to a planned file switches the next plan
  *     to the indexed (aligned) split;
  *   - region reads on resync chunks still prune by container header and
  *     filter exactly;
  *   - containerSpanAt's three-state verdict: a plausible header that
  *     outgrows the probe buffer is "retry bigger" (-2), never "garbage"
  *     (-1) — mistaking the two at a true container start would silently
  *     drop that container's records.
  */
class CramResyncSplitSpec extends AnyFunSuite with SharedSpark {

  private def withConf[T](kvs: (String, String)*)(body: => T): T = {
    val saved = kvs.map { case (k, _) => k -> spark.conf.getOption(k) }
    try { kvs.foreach { case (k, v) => spark.conf.set(k, v) }; body }
    finally saved.foreach { case (k, vOpt) =>
      vOpt.fold(spark.conf.unset(k))(spark.conf.set(k, _))
    }
  }

  /** One-shard sorted CRAM through the engine's own sink; `.crai` deleted
    * unless `keepCrai`. Parameterized over records-per-container: 200
    * gives the many-small-containers shape, ~10000 the REALISTIC one
    * (real CRAMs carry ~1-5 MB containers, far past a 64 KiB read-ahead
    * window).
    */
  private def mkCram(dirName: String, n: Long, perContainer: Int,
                     keepCrai: Boolean = false): java.io.File = {
    val dir = graft.TestTmp.dir(dirName).toString + "/t"
    val refs = (0 until 4).map(i => s"chr$i:40000000").mkString(",")
    spark.range(0, n).select(
        concat(lit("r"), col("id")).as("name"),
        lit(0).as("flag"),
        concat(lit("chr"), (col("id") % 4).cast("string")).as("reference"),
        ((col("id") / 4).cast("long") * 150 + 1).as("start"),
        ((col("id") / 4).cast("long") * 150 + 30).as("end"),
        lit("30").as("mapping_quality"),
        lit("30M").as("cigar"),
        lit(null).cast("string").as("mate_reference"),
        translate(substring(md5(col("id").cast("string")), 1, 30),
          "0123456789abcdef", "ACGTACGTACGTACGT").as("sequence"),
        array_repeat(lit(30L), 30).as("quality_score"),
        array().cast("array<struct<tag:string,value:string>>").as("tags"))
      .repartitionByRange(1, col("reference"), col("start"))
      .sortWithinPartitions("reference", "start")
      .write.format("cram").mode("overwrite")
      .option("refs", refs).option("containerRecords", perContainer.toString)
      .save(dir)
    if (!keepCrai) new java.io.File(dir).listFiles()
      .filter(_.getName.endsWith(".crai")).foreach(f => assert(f.delete()))
    new java.io.File(dir).listFiles()
      .filter(_.getName.endsWith(".cram")).minBy(_.getName)
  }

  /** 10k records, 200/container -> ~50 small data containers. */
  private lazy val cramFile: java.io.File =
    mkCram("cram_resync_split", 10000L, 200)

  /** 40k records, 10000/container -> 4 big data containers, each far past
    * the resync's 64 KiB read-ahead window — the realistic shape.
    */
  private lazy val bigContainerCram: java.io.File =
    mkCram("cram_resync_split_big", 40000L, 10000)

  private def read(path: String): DataFrame =
    spark.read.format("cram").load(path)
      .select("name", "reference", "start", "cigar")

  test("unindexed cram fans out via task-open resync; rows invariant") {
    val whole = read(cramFile.getAbsolutePath)
    assert(whole.rdd.getNumPartitions == 1, "corpus unexpectedly split at default conf")
    val n = whole.count()
    assert(n == 10000L)
    withConf("spark.sql.files.maxPartitionBytes" -> "32768",
             "spark.sql.files.openCostInBytes" -> "4096") {
      val split = read(cramFile.getAbsolutePath)
      val parts = split.rdd.getNumPartitions
      assert(parts >= 4, s"resync split did not engage: $parts partition(s)")
      assert(split.count() == n)
      assert(split.except(whole).count() == 0 && whole.except(split).count() == 0,
        "resync split scan produced different rows")
    }
  }

  test("resync split invariance across cut sizes (incl. cuts inside the file header)") {
    val whole = read(cramFile.getAbsolutePath)
    // 8 KB cuts land inside the FILE_HEADER container and mid-container;
    // larger cuts land on and between container starts. Every byte must be
    // owned by exactly one task regardless.
    for (sz <- Seq("8192", "65536", "262144")) {
      withConf("spark.sql.files.maxPartitionBytes" -> sz,
               "spark.sql.files.openCostInBytes" -> "1024") {
        val split = read(cramFile.getAbsolutePath)
        assert(split.except(whole).count() == 0 && whole.except(split).count() == 0,
          s"rows not invariant at maxPartitionBytes=$sz")
      }
    }
  }

  test("region read on a resync-split unindexed cram prunes and filters exactly") {
    withConf("spark.sql.files.maxPartitionBytes" -> "32768",
             "spark.sql.files.openCostInBytes" -> "4096") {
      val skippedBefore = graft.sources.formats.CramFormat.containersSkipped.get()
      val got = spark.read.format("cram").option("region", "chr1:1-1501")
        .load(cramFile.getAbsolutePath).count()
      // chr1 rows overlapping [1,1501]: starts 1,151,...,1501 -> 11 rows
      assert(got == 11, s"expected 11 rows in chr1:1-1501, got $got")
      assert(graft.sources.formats.CramFormat.containersSkipped.get() > skippedBefore,
        "header pruning did not skip any container on the resync chunks")
    }
  }

  test("planning an unindexed CRAM over S3 costs O(1) GETs on the object") {
    val s3 = new MiniS3().start()
    val conf = spark.sparkContext.hadoopConfiguration
    val keys = Seq("fs.s3.impl", "fs.s3.endpoint", "fs.s3.impl.disable.cache")
    val saved = keys.map(k => k -> Option(conf.get(k)))
    conf.set("fs.s3.impl", classOf[graft.sources.s3.S3HttpFileSystem].getName)
    conf.set("fs.s3.endpoint", s3.endpoint)
    conf.set("fs.s3.impl.disable.cache", "true")
    try {
      s3.put("graft-resync", "u.cram",
        java.nio.file.Files.readAllBytes(cramFile.toPath))
      withConf("spark.sql.files.maxPartitionBytes" -> "32768",
               "spark.sql.files.openCostInBytes" -> "4096") {
        val df = read("s3://graft-resync/u.cram")
        val parts = df.rdd.getNumPartitions // plans partitions, reads no rows
        assert(parts >= 4, s"resync split over S3 did not engage: $parts partition(s)")
        import scala.jdk.CollectionConverters._
        val gets = s3.requests.asScala
          .filter(r => r._1 == "GET" && r._2.endsWith("u.cram"))
        // the whole planning cost on the object: the 6-byte magic sniff,
        // where a driver-side container sweep would need a GET per window
        // or per container
        assert(gets.size <= 2,
          s"planning issued ${gets.size} GETs on the object; " +
            "task-open resync must plan in O(1)")
        // and the scan itself is still correct over S3
        val local = read(cramFile.getAbsolutePath)
        assert(df.count() == 10000L)
        assert(df.except(local).count() == 0 && local.except(df).count() == 0,
          "S3 resync split rows differ from local")
      }
    } finally {
      s3.stop()
      saved.foreach { case (k, v) =>
        v match { case Some(x) => conf.set(k, x); case None => conf.unset(k) }
      }
    }
  }

  private def chunksOf(df: DataFrame): Seq[FileChunk] =
    df.queryExecution.executedPlan.collect {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b
    }.flatMap(_.batch.planInputPartitions())
      .collect { case g: GraftInputPartition => g }.flatMap(_.chunks)

  test("realistic container shape (~10k records/container): resync split exact") {
    val whole = read(bigContainerCram.getAbsolutePath)
    assert(whole.count() == 40000L)
    // container starts (test-side chain) to size the assertions
    val starts = CramResyncSplitSpec.containerStarts(
      new graft.sources.formats.CramFormat(None, Nil),
      java.nio.file.Files.readAllBytes(bigContainerCram.toPath))
    assert(starts.length <= 8,
      s"fixture must have FEW BIG containers, the chain saw ${starts.length}")
    assert(bigContainerCram.length() / starts.length > 65536,
      "containers must outgrow the 64 KiB resync window to be the realistic shape")
    withConf("spark.sql.files.maxPartitionBytes" -> "65536",
             "spark.sql.files.openCostInBytes" -> "4096") {
      val split = read(bigContainerCram.getAbsolutePath)
      assert(split.rdd.getNumPartitions >= 4,
        s"resync split did not engage: ${split.rdd.getNumPartitions}")
      assert(split.except(whole).count() == 0 && whole.except(split).count() == 0,
        "resync rows differ at the big-container shape")
    }
  }

  test("realistic shape on S3: resync plans in O(1) GETs") {
    val s3 = new MiniS3().start()
    val conf = spark.sparkContext.hadoopConfiguration
    val keys = Seq("fs.s3.impl", "fs.s3.endpoint", "fs.s3.impl.disable.cache")
    val saved = keys.map(k => k -> Option(conf.get(k)))
    conf.set("fs.s3.impl", classOf[graft.sources.s3.S3HttpFileSystem].getName)
    conf.set("fs.s3.endpoint", s3.endpoint)
    conf.set("fs.s3.impl.disable.cache", "true")
    try {
      s3.put("graft-bigc", "big.cram",
        java.nio.file.Files.readAllBytes(bigContainerCram.toPath))
      import scala.jdk.CollectionConverters._
      def getsOn(key: String): Int = s3.requests.asScala
        .count(r => r._1 == "GET" && r._2.endsWith(key))
      withConf("spark.sql.files.maxPartitionBytes" -> "65536",
               "spark.sql.files.openCostInBytes" -> "4096") {
        val before = getsOn("big.cram")
        assert(read("s3://graft-bigc/big.cram").rdd.getNumPartitions >= 4)
        val resyncGets = getsOn("big.cram") - before
        assert(resyncGets <= 2,
          s"resync planning issued $resyncGets GETs at the realistic shape; must be O(1)")
      }
    } finally {
      s3.stop()
      saved.foreach { case (k, v) =>
        v match { case Some(x) => conf.set(k, x); case None => conf.unset(k) }
      }
    }
  }

  test("a .crai appearing AFTER a resync plan flips the next scan to the indexed path") {
    val f = mkCram("cram_resync_stale", 4000L, 100, keepCrai = true)
    val crai = new java.io.File(f.getParentFile, f.getName + ".crai")
    assert(crai.exists(), "sink must have written the .crai")
    val hidden = new java.io.File(f.getParentFile, f.getName + ".crai.hidden")
    assert(crai.renameTo(hidden))
    try {
      withConf("spark.sql.files.maxPartitionBytes" -> "32768",
               "spark.sql.files.openCostInBytes" -> "4096") {
        val first = chunksOf(read(f.getAbsolutePath))
        assert(first.nonEmpty && first.forall(_.kind == ChunkKind.Container),
          "without the .crai the plan must be resync chunks")
        assert(hidden.renameTo(crai)) // the index appears between two scans
        val second = chunksOf(read(f.getAbsolutePath))
        assert(second.nonEmpty && second.forall(_.kind == ChunkKind.Aligned),
          "with the .crai present the next plan must be the .crai's aligned " +
            "split (stale (path, mtime, len) sniff memo)")
        // and the indexed plan reads the same rows
        val whole = read(f.getAbsolutePath)
        assert(whole.count() == 4000L)
      }
    } finally { if (hidden.exists()) hidden.renameTo(crai) }
  }

  test("truncated unindexed cram under the resync split fails LOUDLY, never fewer rows") {
    // A partial copy cuts the last container's payload. The whole-file
    // reader raises "truncated container"; the resync split must be as
    // loud — a task that skipped the CRC-valid-but-overrunning header
    // would silently drop its records instead (containerSpanAt -3).
    val bytes = java.nio.file.Files.readAllBytes(cramFile.toPath)
    val tdir = graft.TestTmp.dir("cram_resync_trunc")
    val tf = java.nio.file.Paths.get(tdir.toString, "trunc.cram")
    java.nio.file.Files.write(tf, java.util.Arrays.copyOf(bytes, bytes.length - 10))
    withConf("spark.sql.files.maxPartitionBytes" -> "32768",
             "spark.sql.files.openCostInBytes" -> "4096") {
      val df = read(tf.toString)
      assert(df.rdd.getNumPartitions >= 4,
        "truncated file must still plan optimistically (tasks raise, not the planner)")
      val e = intercept[Exception] { df.count() }
      def chain(t: Throwable): Seq[String] =
        if (t == null) Nil else String.valueOf(t.getMessage) +: chain(t.getCause)
      val msgs = chain(e) ++ Option(e.getCause).toSeq.flatMap(chain)
      assert(msgs.exists(m => m != null && m.contains("truncated")),
        s"expected a loud truncation error, got: ${msgs.take(3)}")
    }
  }

  test("containerSpanAt: plausible-but-truncated is -2 (retry), corrupt is -1") {
    // Hand-built container header with 1500 three-byte-itf8 landmarks
    // (~4.5 KB > the 4 KB HdrNeed probe): spec-legal, CRC-valid.
    val bos = new java.io.ByteArrayOutputStream()
    def u8(v: Int): Unit = bos.write(v & 0xff)
    def i32le(v: Int): Unit = { u8(v); u8(v >> 8); u8(v >> 16); u8(v >> 24) }
    def itf8(v: Int): Unit = {
      if (v < 0x80) u8(v)
      else if (v < 0x4000) { u8(0x80 | (v >> 8)); u8(v) }
      else if (v < 0x200000) { u8(0xC0 | (v >> 16)); u8(v >> 8); u8(v) }
      else sys.error("test itf8 out of range")
    }
    // landmarks must be strictly ascending and <= length (spec §8 — the
    // garbage-rejection check relies on it), so size the payload past them
    val payloadLen = 8000000
    i32le(payloadLen)
    itf8(0) // refSeqId
    itf8(1); itf8(30) // aliStart, aliSpan
    itf8(200) // nRecords
    u8(0); u8(0) // ltf8 record counter, bases (single-byte forms)
    itf8(1500) // nBlocks
    itf8(1500) // nLandmarks
    (0 until 1500).foreach(i => itf8(0x4000 + i)) // ascending 3-byte itf8
    val hdrNoCrc = bos.toByteArray
    val crc = new java.util.zip.CRC32()
    crc.update(hdrNoCrc)
    i32le(crc.getValue.toInt)
    val hdr = bos.toByteArray
    assert(hdr.length > 4096, s"fixture header must outgrow HdrNeed, is ${hdr.length}")
    val fileSize = 10000000L
    val fmt = new graft.sources.formats.CramFormat(None, Nil)
    // full buffer: accepted, span = header + payload
    val full = java.util.Arrays.copyOf(hdr, hdr.length + 64)
    assert(fmt.containerSpanAt(full, 0, full.length, 0L, fileSize) ==
      hdr.length.toLong + payloadLen)
    // truncated at 4096 with more file behind: MUST be -2 (retry), not -1
    assert(fmt.containerSpanAt(full, 0, 4096, 0L, fileSize) == -2L,
      "plausible-but-truncated header must ask for a bigger buffer")
    // truncated by EOF (no more file): -1, nothing to retry
    assert(fmt.containerSpanAt(hdr, 0, 4096, 0L, 4096L) == -1L)
    // corrupt CRC with the full buffer: -1
    val bad = full.clone()
    bad(hdr.length - 1) = (bad(hdr.length - 1) ^ 0x55).toByte
    assert(fmt.containerSpanAt(bad, 0, bad.length, 0L, fileSize) == -1L)
  }
}

object CramResyncSplitSpec {
  /** Every container start of a whole CRAM file, chained from the
    * FILE_HEADER container at offset 26 through `containerSpanAt` with the
    * whole file as the buffer; fails unless the chain lands exactly on EOF.
    */
  def containerStarts(fmt: graft.sources.formats.CramFormat,
                      bytes: Array[Byte]): Seq[Long] = {
    val starts = scala.collection.mutable.ArrayBuffer[Long]()
    var pos = 26L
    while (pos < bytes.length) {
      val span = fmt.containerSpanAt(bytes, pos.toInt, bytes.length - pos.toInt,
        pos, bytes.length.toLong)
      require(span > 0, s"no valid container header at $pos (verdict $span)")
      starts += pos
      pos += span
    }
    require(pos == bytes.length, s"container chain overran EOF: $pos")
    starts.toSeq
  }
}
