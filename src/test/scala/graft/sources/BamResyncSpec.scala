package graft.sources

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.SharedSpark

/** Index-free BGZF record-resync splits (GraftScan.bgzfRecordSplitChunks +
  * BgzfRecords): a big UNINDEXED BAM (no .bai sibling — the
  * landing-zone shape before `samtools index` runs) must still fan out over
  * parallel chunk partitions, with the reader re-finding record boundaries
  * by validated header-chain scan (the hadoop-bam SplitGuesser technique).
  * Result must be invariant to the chunking: every record lands in exactly
  * one chunk at ANY split size, including chunks interior to one block and
  * the trailing no-coor unmapped reads.
  */
class BamResyncSpec extends AnyFunSuite with SharedSpark {

  private def withConf[T](kvs: (String, String)*)(body: => T): T = {
    val saved = kvs.map { case (k, _) => k -> spark.conf.getOption(k) }
    try { kvs.foreach { case (k, v) => spark.conf.set(k, v) }; body }
    finally saved.foreach { case (k, vOpt) =>
      vOpt.fold(spark.conf.unset(k))(spark.conf.set(k, _))
    }
  }

  /** One-shard sorted BAM through the engine's own sink, then the .bai
    * deleted — leaving the unindexed shape the resync split targets.
    * High-entropy (md5-derived) sequences so the compressed block layout
    * resembles a real BAM's, plus trailing no-coor unmapped records.
    */
  private lazy val bamDir: String = {
    val dir = graft.TestTmp.dir("bam_resync").toString + "/t"
    val n = 60000L
    val refs = (0 until 4).map(i => s"chr$i:40000000").mkString(",")
    val mapped = spark.range(0, n).select(
      concat(lit("r"), col("id")).as("name"),
      lit(0).as("flag"),
      concat(lit("chr"), (col("id") % 4).cast("string")).as("reference"),
      ((col("id") / 4).cast("long") * 150 + 1).as("start"),
      ((col("id") / 4).cast("long") * 150 + 100).as("end"),
      lit("30").as("mapping_quality"),
      lit("100M").as("cigar"),
      lit(null).cast("string").as("mate_reference"),
      translate(substring(concat(md5(col("id").cast("string")),
          md5((col("id") + n).cast("string")),
          md5((col("id") + 2 * n).cast("string")),
          md5((col("id") + 3 * n).cast("string"))), 1, 100),
        "0123456789abcdef", "ACGTACGTACGTACGT").as("sequence"),
      array_repeat(lit(30L), 100).as("quality_score"),
      array().cast("array<struct<tag:string,value:string>>").as("tags"))
    val noCoor = spark.range(0, 50).select(
      concat(lit("u"), col("id")).as("name"),
      lit(4).as("flag"),
      lit(null).cast("string").as("reference"),
      lit(null).cast("long").as("start"),
      lit(null).cast("long").as("end"),
      lit(null).cast("string").as("mapping_quality"),
      lit(null).cast("string").as("cigar"),
      lit(null).cast("string").as("mate_reference"),
      rpad(lit(""), 50, "TTAA").as("sequence"),
      array_repeat(lit(20L), 50).as("quality_score"),
      array().cast("array<struct<tag:string,value:string>>").as("tags"))
    mapped.unionAll(noCoor)
      .repartitionByRange(1, col("reference").asc_nulls_last, col("start").asc_nulls_last)
      .sortWithinPartitions(col("reference").asc_nulls_last, col("start").asc_nulls_last)
      .write.format("bam").mode("overwrite").option("refs", refs).save(dir)
    // delete every index sibling: the whole point is NO index
    new java.io.File(dir).listFiles().foreach { f =>
      if (f.getName.endsWith(".bai")) assert(f.delete())
    }
    dir
  }

  private def assertSameRows(split: DataFrame, whole: DataFrame): Unit = {
    assert(split.count() == whole.count())
    assert(split.except(whole).count() == 0, "split scan produced extra/changed rows")
    assert(whole.except(split).count() == 0, "split scan dropped rows")
  }

  private def read(): DataFrame =
    spark.read.format("bam").load(bamDir)
      .select("name", "flag", "reference", "start", "end", "cigar")

  test("unindexed bam full scan splits into parallel resync chunks; rows invariant") {
    val whole = read()
    assert(whole.rdd.getNumPartitions == 1, "corpus unexpectedly split at default conf")
    val wholeRows = whole.count()
    assert(wholeRows == 60050L)
    withConf("spark.sql.files.maxPartitionBytes" -> "131072",
             "spark.sql.files.openCostInBytes" -> "16384") {
      val split = read()
      val parts = split.rdd.getNumPartitions
      assert(parts >= 4, s"expected >=4 resync chunk partitions, got $parts")
      assertSameRows(split, whole)
      // the to-EOF tail must keep the trailing no-coor unmapped reads
      assert(split.filter(col("reference").isNull).count() == 50)
    }
  }

  test("resync split invariance across chunk sizes, incl. sub-block chunks") {
    val whole = read()
    // 16 KiB cuts land many chunks interior to one ~64 KiB-decompressed
    // block (hasOwned=false path); 333333 exercises unaligned bounds
    for (sz <- Seq("16384", "100000", "333333", "1048576")) {
      withConf("spark.sql.files.maxPartitionBytes" -> sz,
               "spark.sql.files.openCostInBytes" -> "1024") {
        val split = read()
        assert(split.rdd.getNumPartitions > 1, s"no split at maxPartitionBytes=$sz")
        assertSameRows(split, whole)
      }
    }
  }

  test("region option still works on the unindexed resync-split bam (row filter)") {
    withConf("spark.sql.files.maxPartitionBytes" -> "131072",
             "spark.sql.files.openCostInBytes" -> "16384") {
      val got = spark.read.format("bam").option("region", "chr1:1-1501")
        .load(bamDir).count()
      // chr1 rows with start <= 1501 && end >= 1: starts 1,151,...,1501
      assert(got == 11, s"expected 11 rows in chr1:1-1501, got $got")
    }
  }

  /** One-shard sorted BCF through the engine's own sink, .csi deleted —
    * the unindexed shape for the BCF arm of the resync split.
    */
  private lazy val bcfDir: String = {
    val base = graft.TestTmp.dir("bcf_resync").toFile
    val header = new java.io.File(base, "header.vcf")
    java.nio.file.Files.writeString(header.toPath,
      """##fileformat=VCFv4.3
        |##contig=<ID=chrA,length=100000000>
        |##contig=<ID=chrB,length=100000000>
        |##FILTER=<ID=PASS,Description="ok">
        |##INFO=<ID=DP,Number=1,Type=Integer,Description="depth">
        |##INFO=<ID=KIND,Number=1,Type=String,Description="kind">
        |#CHROM	POS	ID	REF	ALT	QUAL	FILTER	INFO
        |""".stripMargin)
    val out = new java.io.File(base, "t")
    spark.range(0, 150000L).select(
        when(col("id") % 2 === 0, "chrA").otherwise("chrB").as("chrom"),
        ((col("id") / 2).cast("long") * 37 + 11).as("pos"),
        lit(null).cast("array<string>").as("id"),
        lit("A").as("ref"),
        array(lit("T")).as("alt"),
        lit(30f).as("qual"),
        array(lit("PASS")).as("filter"),
        concat(lit("DP="), (col("id") % 100).cast("string"),
          lit(";KIND="), md5(col("id").cast("string"))).as("info"),
        lit(null).cast("string").as("formats"))
      .repartitionByRange(1, col("chrom"), col("pos"))
      .sortWithinPartitions("chrom", "pos")
      .write.format("bcf").mode("overwrite")
      .option("headerFrom", header.getAbsolutePath)
      .save(out.getAbsolutePath)
    out.listFiles().foreach { f =>
      if (f.getName.endsWith(".csi")) assert(f.delete())
    }
    out.getAbsolutePath
  }

  test("unindexed bcf full scan splits into parallel resync chunks; rows invariant") {
    val whole = spark.read.format("bcf").load(bcfDir)
      .select("chrom", "pos", "ref", "info")
    assert(whole.rdd.getNumPartitions == 1, "bcf corpus unexpectedly split")
    assert(whole.count() == 150000L)
    for (sz <- Seq("131072", "500000")) {
      withConf("spark.sql.files.maxPartitionBytes" -> sz,
               "spark.sql.files.openCostInBytes" -> "16384") {
        val split = spark.read.format("bcf").load(bcfDir)
          .select("chrom", "pos", "ref", "info")
        val parts = split.rdd.getNumPartitions
        assert(parts > 1, s"no bcf resync split at maxPartitionBytes=$sz")
        assertSameRows(split, whole)
      }
    }
  }

  test("validateChain finds exactly the true record starts") {
    // decompress the corpus and walk the true record chain from the header
    val f = new java.io.File(bamDir).listFiles()
      .filter(_.getName.endsWith(".bam")).minBy(_.getName)
    val raw = new java.io.BufferedInputStream(new java.io.FileInputStream(f), 1 << 16)
    val all = {
      val s = new BgzfStreamInputStream(raw)
      val out = new java.io.ByteArrayOutputStream()
      val b = new Array[Byte](1 << 16)
      var r = s.read(b); while (r > 0) { out.write(b, 0, r); r = s.read(b) }
      s.close()
      out.toByteArray
    }
    def i32(i: Int): Int = (all(i) & 0xff) | ((all(i + 1) & 0xff) << 8) |
      ((all(i + 2) & 0xff) << 16) | ((all(i + 3) & 0xff) << 24)
    // header: magic(4) l_text text n_ref (l_name name l_ref)*
    var p = 4 + 4 + i32(4)
    val nRef = i32(p); p += 4
    (0 until nRef).foreach { _ => p += 4 + i32(p) + 4 }
    val starts = scala.collection.mutable.TreeSet[Int]()
    while (p < all.length) { starts += p; p += 4 + i32(p) }
    assert(starts.size == 60050)
    val fmt = graft.sources.formats.BamFormat
    // every true start validates
    for (s0 <- Seq(starts.head, starts.iterator.drop(1000).next(), starts.last))
      assert(fmt.validateChain(all, all.length, s0, nRef, exhausted = true) == 1)
    // from arbitrary offsets, the first validating position IS the next
    // true record start — no false positive anywhere before it
    val rnd = new scala.util.Random(7)
    (0 until 40).foreach { _ =>
      val o = rnd.nextInt(all.length - 4096)
      var c = o
      while (fmt.validateChain(all, all.length, c, nRef, exhausted = true) != 1) c += 1
      val trueNext = starts.iteratorFrom(o).next()
      assert(c == trueNext, s"resync from $o found $c, true next start $trueNext")
    }
  }
}
