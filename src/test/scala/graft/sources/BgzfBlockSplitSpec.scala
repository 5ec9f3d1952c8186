package graft.sources

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField, StructType}
import org.scalatest.funsuite.AnyFunSuite

import graft.SharedSpark

/** Index-FREE BGZF splits of text: a big bgzipped one-line-per-record file
  * with NO tabix sibling — the common landing-zone shape — is cut as
  * ChunkKind.Record (GraftScan's rawCutKind), each reader aligns to a BGZF
  * block by validated boundary scan (BgzfResyncInputStream), and
  * LineFormat.records applies the line rule: a mid-file chunk discards
  * through its first '\n', then serves a line while the '\n' before it lies
  * in an owned block. It must fan out over parallel chunks with the result
  * invariant to the chunking. Plain (non-BGZF) gzip must stay one task.
  */
class BgzfBlockSplitSpec extends AnyFunSuite with SharedSpark {

  private def withConf[T](kvs: (String, String)*)(body: => T): T = {
    val saved = kvs.map { case (k, _) => k -> spark.conf.getOption(k) }
    try { kvs.foreach { case (k, v) => spark.conf.set(k, v) }; body }
    finally saved.foreach { case (k, vOpt) =>
      vOpt.fold(spark.conf.unset(k))(spark.conf.set(k, _))
    }
  }

  private val splitConf = Seq(
    "spark.sql.files.maxPartitionBytes" -> "131072",
    "spark.sql.files.openCostInBytes" -> "16384")

  /** A single bgzipped VCF part with its .tbi sibling REMOVED. */
  private lazy val gzOnlyDir: String = {
    val sink = graft.TestTmp.dir("blocksplit_sink").toString + "/t"
    val n = 40000L
    spark.range(0, 3 * n).select(
        concat(lit("chr"), (col("id") / n).cast("long").cast("string")).as("chrom"),
        ((col("id") % n) * 200 + 1).as("pos"),
        lit(null).cast("array<string>").as("id"),
        lit("A").as("ref"),
        array(lit("T")).as("alt"),
        lit(30f).as("qual"),
        lit(null).cast("array<string>").as("filter"),
        concat(lit("DP="), (col("id") % 100).cast("string")).as("info"),
        lit(null).cast("string").as("formats"))
      .repartitionByRange(1, col("chrom"), col("pos"))
      .sortWithinPartitions("chrom", "pos")
      .write.format("vcf").mode("overwrite").option("compression", "bgzf").save(sink)
    val dir = graft.TestTmp.dir("blocksplit_noidx")
    new java.io.File(sink).listFiles()
      .filter(_.getName.endsWith(".vcf.gz")).foreach { f =>
        java.nio.file.Files.copy(f.toPath,
          new java.io.File(dir.toFile, f.getName).toPath)
      }
    dir.toString
  }

  private def assertSameRows(split: DataFrame, whole: DataFrame): Unit = {
    assert(split.count() == whole.count())
    assert(split.except(whole).count() == 0, "split scan produced extra/changed rows")
    assert(whole.except(split).count() == 0, "split scan dropped rows")
  }

  test("unindexed vcf.gz splits into parallel chunks; rows invariant") {
    val whole = spark.read.format("vcf").load(gzOnlyDir)
      .select("chrom", "pos", "ref", "info")
    assert(whole.rdd.getNumPartitions == 1, "corpus unexpectedly split at default conf")
    withConf(splitConf: _*) {
      val split = spark.read.format("vcf").load(gzOnlyDir)
        .select("chrom", "pos", "ref", "info")
      val parts = split.rdd.getNumPartitions
      assert(parts > 2, s"expected >2 index-free chunk partitions, got $parts")
      assertSameRows(split, whole)
    }
  }

  test("split invariance at a second chunk size") {
    val whole = spark.read.format("vcf").load(gzOnlyDir)
      .select("chrom", "pos", "info")
    withConf("spark.sql.files.maxPartitionBytes" -> "65536",
             "spark.sql.files.openCostInBytes" -> "8192") {
      val split = spark.read.format("vcf").load(gzOnlyDir)
        .select("chrom", "pos", "info")
      assert(split.rdd.getNumPartitions > 4)
      assertSameRows(split, whole)
    }
  }

  test("typed vcf (parseInfo) over the index-free split: same schema-resolved parse") {
    // header with an ##INFO definition so the typed schema resolves; body
    // bgzipped with the repo's BgzfWriter, NO .tbi sibling
    val dir = graft.TestTmp.dir("blocksplit_typed")
    val f = new java.io.File(dir.toFile, "typed.vcf.gz")
    val fos = new java.io.FileOutputStream(f)
    try {
      val w = new BgzfWriter(new java.io.BufferedOutputStream(fos, 1 << 16))
      w.write(("##fileformat=VCFv4.2\n" +
        "##INFO=<ID=DP,Number=1,Type=Integer,Description=\"Depth\">\n" +
        "#CHROM\tPOS\tID\tREF\tALT\tQUAL\tFILTER\tINFO\n").getBytes("UTF-8"))
      (1 to 150000).foreach { i =>
        w.write(s"chr1\t$i\t.\tA\tT\t30\tPASS\tDP=${i % 97}\n".getBytes("UTF-8"))
      }
      w.finish()
    } finally fos.close()
    val whole = spark.read.format("vcf").option("parseInfo", "true")
      .load(dir.toString).select(col("chrom"), col("pos"), col("info.DP").as("dp"))
    assert(whole.rdd.getNumPartitions == 1)
    withConf(splitConf: _*) {
      val split = spark.read.format("vcf").option("parseInfo", "true")
        .load(dir.toString).select(col("chrom"), col("pos"), col("info.DP").as("dp"))
      assert(split.rdd.getNumPartitions > 2)
      assertSameRows(split, whole)
    }
  }

  test("plain gzip (not BGZF) stays one task and still reads correctly") {
    val dir = graft.TestTmp.dir("blocksplit_plaingz")
    val out = new java.util.zip.GZIPOutputStream(
      new java.io.FileOutputStream(new java.io.File(dir.toFile, "x.vcf.gz")))
    val sb = new StringBuilder("##fileformat=VCFv4.2\n")
    sb.append("#CHROM\tPOS\tID\tREF\tALT\tQUAL\tFILTER\tINFO\n")
    (1 to 200000).foreach(i => sb.append(s"chr1\t$i\t.\tA\tT\t30\tPASS\tDP=$i\n"))
    out.write(sb.toString.getBytes("UTF-8")); out.close()
    withConf(splitConf: _*) {
      val df = spark.read.format("vcf").load(dir.toString)
      assert(df.rdd.getNumPartitions == 1,
        "plain gzip cannot be entered mid-stream and must stay one task")
      assert(df.count() == 200000)
    }
  }

  test("region option without an index: split parallel scan + exact row filter") {
    // no .tbi exists, so the region can't prune chunks — but the scan
    // still fans out via the index-free split and the row-level overlap
    // filter keeps the result exact
    val whole = spark.read.format("vcf").load(gzOnlyDir)
      .filter(col("chrom") === "chr1" &&
        col("pos").between(1000001L, 2000001L))
      .select("chrom", "pos", "info")
    withConf(splitConf: _*) {
      val regioned = spark.read.format("vcf")
        .option("region", "chr1:1000001-2000001").load(gzOnlyDir)
        .select("chrom", "pos", "info")
      assert(regioned.rdd.getNumPartitions > 2,
        "unindexed region read should still scan in parallel chunks")
      assertSameRows(regioned, whole)
    }
  }

  /** Every line a format would see, comments and headers included. */
  private object AllLines extends LineFormat {
    override def shortName: String = "lines"
    override def defaultExtensions: Seq[String] = Nil
    override val dataSchema: StructType = StructType(Seq(StructField("line", StringType)))
    override def skipLine(line: String): Boolean = false
    override def parseLine(line: String, required: Array[Int]): Array[Any] = Array(line)
  }

  /** The lines LineFormat.records serves for the Record chunk [cStart, cEnd),
    * entered as the partition reader enters it.
    */
  private def chunkLines(p: org.apache.hadoop.fs.Path, size: Long,
                         cStart: Long, cEnd: Long): IndexedSeq[String] = {
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val rr = new BgzfResyncInputStream(fs.open(p), cStart, cEnd, size)
    val chunk = FileChunk(p.toString, cStart, cEnd - cStart, size, Array.empty,
      kind = ChunkKind.Record)
    try AllLines.records(new RecordInput(chunk, rr, () => new ByteLineReader(rr, 0L),
      resync = rr), Array(0)).map(_(0).asInstanceOf[String]).toVector
    finally rr.close()
  }

  /** Every line of the whole decompressed file. */
  private def wholeLines(p: org.apache.hadoop.fs.Path): IndexedSeq[String] = {
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val in = new BgzfStreamInputStream(fs.open(p))
    try {
      val r = new ByteLineReader(in, 0L)
      Iterator.continually(r.readLine()).takeWhile(_ != null).toVector
    } finally in.close()
  }

  /** Cuts every `step` compressed bytes must serve the whole file's lines,
    * in order, each exactly once.
    */
  private def assertChunkingInvariant(p: org.apache.hadoop.fs.Path, size: Long,
                                      whole: IndexedSeq[String], step: Long): Unit = {
    val cuts = (0L until size by step) :+ size
    val got = cuts.sliding(2).flatMap(w => chunkLines(p, size, w(0), w(1))).toVector
    assert(got.size == whole.size, s"step $step: ${got.size} lines vs ${whole.size}")
    assert(firstDiff(got, whole).isEmpty, s"step $step: line sequence diverged")
  }

  /** Index of the first element where `got` and `want` differ (a failure
    * message naming it instead of printing both sequences).
    */
  private def firstDiff[T](got: IndexedSeq[T], want: IndexedSeq[T]): Option[Int] =
    (0 until math.max(got.size, want.size)).find(i => got.lift(i) != want.lift(i))

  test("stream-level property: any chunking yields every line exactly once") {
    // drive the Record chunk's stream and LineFormat.records' line rule
    // directly across many cut layouts, including cuts inside blocks, at
    // block boundaries, and tiny chunks smaller than one block
    val gz = new java.io.File(gzOnlyDir).listFiles()
      .filter(_.getName.endsWith(".vcf.gz")).head
    val p = new org.apache.hadoop.fs.Path(gz.getAbsolutePath)
    val size = gz.length()
    val whole = wholeLines(p)
    assert(whole.size > 100000) // header lines + 120k records
    assert(firstDiff(chunkLines(p, size, 0L, size), whole).isEmpty)
    Seq(7919L, 23456L, 65536L, 100003L, size / 3, size / 7).foreach { step =>
      assertChunkingInvariant(p, size, whole, math.max(1024L, step))
    }
  }

  test("line ownership property: long, CRLF and block-aligned lines under any chunking") {
    // A BED file bgzipped by BgzfWriter (65280 payload bytes per block), no
    // .tbi. Near each block boundary k one line is sized so that, by k % 3:
    // 0 — the line ends exactly at the boundary (the next line starts the
    // block), 1 — its '\r' is the block's last byte and its '\n' the next
    // block's first, 2 — a line straddles the boundary. Lines 3000 and 9000
    // are longer than two blocks. All lines end in CRLF.
    val payload = 65280
    val text = new java.io.ByteArrayOutputStream()
    val expected = Vector.newBuilder[(String, Long, Long, String, String)]
    val lineStarts = scala.collection.mutable.HashSet[Long]()
    val rnd = new scala.util.Random(20261020)
    def letters(n: Int): String = Seq.fill(n)(('a' + rnd.nextInt(26)).toChar).mkString
    var i = 0
    while (text.size < 1200000) {
      val pos = text.size.toLong
      val boundary = pos / payload + 1
      val toBoundary = boundary * payload - pos
      val head = s"chr${i % 3}\t${i * 10L}\t${i * 10L + 5}\tr${i}_"
      val tail = "\t0\t+\r\n"
      val pad =
        if (toBoundary >= 100 && toBoundary <= 300 && boundary % 3 != 2)
          (toBoundary + (if (boundary % 3 == 1) 1 else 0)).toInt - head.length - tail.length
        else if (i % 6000 == 3000) 150000
        else 10 + rnd.nextInt(60)
      val padding = letters(pad)
      lineStarts += pos
      text.write((head + padding + tail).getBytes("UTF-8"))
      expected += ((s"chr${i % 3}", i * 10L, i * 10L + 5, s"r${i}_$padding", "+"))
      i += 1
    }
    val bytes = text.toByteArray
    val boundaries = (payload.toLong until bytes.length by payload).toSeq
    assert(boundaries.exists(lineStarts.contains), "no block boundary on a line start")
    assert(boundaries.exists(b => bytes(b.toInt - 1) == '\r' && bytes(b.toInt) == '\n'),
      "no CRLF split across a block boundary")
    assert(expected.result().exists(_._4.length > 2 * payload), "no line longer than a block")

    val dir = graft.TestTmp.dir("line_ownership").toFile
    val f = new java.io.File(dir, "lines.bed.gz")
    val fos = new java.io.FileOutputStream(f)
    try {
      val w = new BgzfWriter(new java.io.BufferedOutputStream(fos, 1 << 16))
      w.write(bytes)
      w.finish()
    } finally fos.close()
    val cols = Seq("reference_sequence_name", "start", "end", "name", "strand")
    def rows(df: DataFrame): IndexedSeq[(String, Long, Long, String, String)] =
      df.select(cols.map(col): _*).collect().toIndexedSeq.map { r =>
        (r.getString(0), r.getLong(1), r.getLong(2), r.getString(3), r.getString(4))
      }.sortBy(r => (r._2, r._1))
    val whole = spark.read.format("bed").load(dir.toString)
    assert(whole.rdd.getNumPartitions == 1)
    val wholeRows = rows(whole)
    assert(firstDiff(wholeRows, expected.result().sortBy(r => (r._2, r._1))).isEmpty,
      "whole-file scan differs from the lines written")
    Seq(4096L, 16384L, 50000L, 131072L).foreach { maxBytes =>
      withConf("spark.sql.files.maxPartitionBytes" -> maxBytes.toString,
               "spark.sql.files.openCostInBytes" -> "1024") {
        val split = spark.read.format("bed").load(dir.toString)
        assert(split.rdd.getNumPartitions > 2, s"maxPartitionBytes $maxBytes: no split")
        assert(firstDiff(rows(split), wholeRows).isEmpty,
          s"maxPartitionBytes $maxBytes: rows differ")
      }
    }
    // the same rule at stream level, with cuts far smaller than a block
    val p = new org.apache.hadoop.fs.Path(f.getAbsolutePath)
    val lines = wholeLines(p)
    Seq(997L, 4096L, 30011L).foreach(assertChunkingInvariant(p, f.length, lines, _))
  }

  test("findBlockAtOrAfter lands on true block boundaries from arbitrary offsets") {
    val gz = new java.io.File(gzOnlyDir).listFiles()
      .filter(_.getName.endsWith(".vcf.gz")).head
    val p = new org.apache.hadoop.fs.Path(gz.getAbsolutePath)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val size = gz.length()
    // ground truth: chain block offsets by reading headers from 0
    val truth = scala.collection.mutable.ArrayBuffer[Long]()
    val in = fs.open(p)
    try {
      var off = 0L
      while (off < size) {
        truth += off
        val b = Bgzf.readBlock(in)
        assert(b != null)
        off += b.compressedSize
      }
    } finally in.close()
    assert(truth.length > 10, s"corpus too small: ${truth.length} blocks")
    val raw = fs.open(p)
    try {
      // probing FROM a boundary returns that boundary; from one byte past,
      // the next one; from the middle of a block, the following boundary
      val ts = truth.toIndexedSeq
      Seq(0, 1, ts.length / 2, ts.length - 2).foreach { i =>
        assert(Bgzf.findBlockAtOrAfter(raw, ts(i), size) == ts(i))
        if (i + 1 < ts.length) {
          assert(Bgzf.findBlockAtOrAfter(raw, ts(i) + 1, size) == ts(i + 1))
          val mid = ts(i) + (ts(i + 1) - ts(i)) / 2
          assert(Bgzf.findBlockAtOrAfter(raw, mid, size) == ts(i + 1))
        }
      }
      // past the last block start: no boundary
      assert(Bgzf.findBlockAtOrAfter(raw, ts.last + 1, size) == -1L ||
        Bgzf.findBlockAtOrAfter(raw, ts.last + 1, size) > ts.last)
    } finally raw.close()
  }
}
