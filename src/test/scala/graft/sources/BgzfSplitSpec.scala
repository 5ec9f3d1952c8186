package graft.sources

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.SharedSpark

/** Full-scan BGZF splits (GraftScan.bgzfFullScanChunks): a big BAM / BCF /
  * bgzipped+tabixed file with an index sibling must fan out over multiple
  * record-aligned chunk partitions even WITHOUT a region predicate, and the
  * result must be invariant to the chunking — same rows at any split size,
  * including the in-stream-header head chunk and the to-EOF tail chunk
  * (which must keep BAM no-coor unmapped records that live past the last
  * indexed offset).
  */
class BgzfSplitSpec extends AnyFunSuite with SharedSpark {

  /** Save/restore conf discipline: split-forcing knobs never leak. */
  private def withConf[T](kvs: (String, String)*)(body: => T): T = {
    val saved = kvs.map { case (k, _) => k -> spark.conf.getOption(k) }
    try { kvs.foreach { case (k, v) => spark.conf.set(k, v) }; body }
    finally saved.foreach { case (k, vOpt) =>
      vOpt.fold(spark.conf.unset(k))(spark.conf.set(k, _))
    }
  }

  // Conf that forces sub-file BGZF splits on the multi-MB test corpora.
  private val splitConf = Seq(
    "spark.sql.files.maxPartitionBytes" -> "131072",
    "spark.sql.files.openCostInBytes" -> "16384")

  /** One-shard sorted BAM through the engine's own sink (with .bai),
    * including trailing no-coor unmapped records.
    */
  private lazy val bamDir: String = {
    val dir = graft.TestTmp.dir("bgzf_split_bam").toString + "/t"
    val n = 100000L
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
      rpad(lit(""), 100, "ACGT").as("sequence"),
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
    dir
  }

  /** One-shard bgzf+tbi VCF through the engine's own sink. */
  private lazy val vcfDir: String = {
    val dir = graft.TestTmp.dir("bgzf_split_vcf").toString + "/t"
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
      .write.format("vcf").mode("overwrite").option("compression", "bgzf").save(dir)
    dir
  }

  private val bcfRecords = 621L

  /** One-shard BCF through the engine's own sink (with .csi), small enough
    * that its records share one BGZF block but bigger than the split sizes
    * the tests force.
    */
  private lazy val bcfFile: String = {
    val dir = graft.TestTmp.dir("bgzf_split_bcf").toFile
    val header = new java.io.File(dir, "header.vcf")
    java.nio.file.Files.writeString(header.toPath,
      "##fileformat=VCFv4.3\n##contig=<ID=chr1,length=10000000>\n" +
        "##contig=<ID=chr2,length=10000000>\n" +
        "##INFO=<ID=DP,Number=1,Type=Integer,Description=\"depth\">\n" +
        "#CHROM\tPOS\tID\tREF\tALT\tQUAL\tFILTER\tINFO\n")
    val out = new java.io.File(dir, "t").getAbsolutePath
    spark.range(0, bcfRecords).select(
        when(col("id") < bcfRecords / 3, "chr1").otherwise("chr2").as("chrom"),
        (col("id") * 7919 % 9999991 + 1).as("pos"),
        array(concat(lit("rs"), md5(col("id").cast("string")))).as("id"),
        lit("A").as("ref"),
        array(lit("C")).as("alt"),
        (col("id") % 50).cast("float").as("qual"),
        lit(null).cast("array<string>").as("filter"),
        concat(lit("DP="), (col("id") * 31 % 997).cast("string")).as("info"),
        lit(null).cast("string").as("formats"))
      .repartition(1)
      .sortWithinPartitions("chrom", "pos")
      .write.format("bcf").mode("overwrite").option("headerFrom", header.getPath)
      .save(out)
    new java.io.File(out).listFiles().filter(_.getName.endsWith(".bcf")).head.getPath
  }

  private def assertSameRows(split: DataFrame, whole: DataFrame): Unit = {
    assert(split.count() == whole.count())
    assert(split.except(whole).count() == 0, "split scan produced extra/changed rows")
    assert(whole.except(split).count() == 0, "split scan dropped rows")
  }

  test("bam full scan splits into parallel chunks; rows invariant; tail keeps no-coor reads") {
    val whole = spark.read.format("bam").load(bamDir)
      .select("name", "flag", "reference", "start", "end", "cigar")
    assert(whole.rdd.getNumPartitions == 1, "corpus unexpectedly split at default conf")
    val wholeRows = whole.count()

    withConf(splitConf: _*) {
      val split = spark.read.format("bam").load(bamDir)
        .select("name", "flag", "reference", "start", "end", "cigar")
      val parts = split.rdd.getNumPartitions
      assert(parts >= 4, s"expected >=4 chunk partitions from the .bai split, got $parts")
      assertSameRows(split, whole)
      // no-coor unmapped reads live past the last indexed voffset: the
      // to-EOF tail chunk must keep them
      assert(split.filter(col("reference").isNull).count() == 50)
    }
    assert(wholeRows == 100050L)
  }

  test("bam split scan at a second chunk size: same rows (split invariance)") {
    val whole = spark.read.format("bam").load(bamDir)
      .select("name", "reference", "start")
    withConf("spark.sql.files.maxPartitionBytes" -> "1048576",
             "spark.sql.files.openCostInBytes" -> "16384") {
      val split = spark.read.format("bam").load(bamDir)
        .select("name", "reference", "start")
      assert(split.rdd.getNumPartitions > 1)
      assertSameRows(split, whole)
    }
  }

  test("bgzipped+tabixed vcf full scan splits through the .tbi; rows invariant") {
    val whole = spark.read.format("vcf").load(vcfDir)
      .select("chrom", "pos", "ref", "info")
    assert(whole.rdd.getNumPartitions == 1)
    withConf(splitConf: _*) {
      val split = spark.read.format("vcf").load(vcfDir)
        .select("chrom", "pos", "ref", "info")
      val parts = split.rdd.getNumPartitions
      assert(parts > 2, s"expected >2 chunk partitions from the .tbi split, got $parts")
      assertSameRows(split, whole)
    }
  }

  test("bcf whose records share one BGZF block: index split impossible, resync split still exact") {
    // the sink-written BCF's records decompress into one BGZF block, so
    // every index chunk-begin shares one coffset — no record-aligned index
    // cut exists (bgzfFullScanChunks returns None) and the planner falls
    // through to the index-free record-resync split: raw-offset chunks
    // where every piece interior to the single block owns no block start
    // and correctly yields zero rows, while the piece owning the block
    // decodes every record. Rows must be invariant either way.
    val conf = spark.sparkContext.hadoopConfiguration
    val starts = CsiIndex.forBcf(new org.apache.hadoop.fs.Path(bcfFile), conf).get
      .bins.iterator.flatMap(_.valuesIterator).flatten.map(_._1 >>> 16).toSet
    assert(starts.size == 1, s"records span blocks at $starts")
    val whole = spark.read.format("bcf").load(bcfFile).select("chrom", "pos", "ref")
    assert(whole.count() == bcfRecords)
    withConf("spark.sql.files.maxPartitionBytes" -> "4096",
             "spark.sql.files.openCostInBytes" -> "1024") {
      val split = spark.read.format("bcf").load(bcfFile).select("chrom", "pos", "ref")
      assert(split.rdd.getNumPartitions > 1, "resync split did not engage")
      assertSameRows(split, whole)
    }
  }

  test("bcf head chunk (in-stream header) decodes records directly") {
    // exercises the driver's Virtual arm at virtual offset 0, the chunk a
    // full-scan split's head piece gets: the stream decompresses from byte
    // 0, the header is parsed in-stream, records follow
    val conf = spark.sparkContext.hadoopConfiguration
    val p = new org.apache.hadoop.fs.Path(bcfFile)
    val fs = p.getFileSystem(conf)
    val len = fs.getFileStatus(p).getLen
    val chunk = new BgzfStreamInputStream(fs.open(p), 0L, Long.MaxValue)
    val head = FileChunk(p.toString, 0, len, len, Array.empty, 0L, Long.MaxValue,
      ChunkKind.Virtual)
    assert(head.startsAtFileStart)
    val input = new RecordInput(head, chunk, fs = fs)
    val schema = graft.sources.formats.BcfFormat.dataSchema
    val n = graft.sources.formats.BcfFormat
      .records(input, schema, Array(0, 1))
      .size
    chunk.close()
    assert(n == bcfRecords)
  }

  test("region reads unaffected by the split conf (index pruning wins)") {
    withConf(splitConf: _*) {
      val got = spark.read.format("bam").option("region", "chr1:1-1501")
        .load(bamDir).count()
      // chr1 rows: id%4==1, start = (id/4)*150+1 <= 1501 && end >= 1 ->
      // id/4 in 0..10 -> 11 rows
      assert(got == 11, s"region read returned $got")
    }
  }

  test("split scan keeps hive partition values and honors a pushed limit") {
    // hive layout: the same single-shard BAM under sample=s1/
    val root = graft.TestTmp.dir("bgzf_split_hive")
    val part = new java.io.File(root.toFile, "sample=s1")
    part.mkdirs()
    new java.io.File(bamDir).listFiles().filter(_.isFile).foreach { f =>
      java.nio.file.Files.copy(f.toPath,
        new java.io.File(part, f.getName).toPath)
    }
    withConf(splitConf: _*) {
      val df = spark.read.format("bam").load(root.toString)
        .select("name", "reference", "sample")
      assert(df.rdd.getNumPartitions > 1, "hive-laid-out BAM did not split")
      // every chunk of the split file must carry the partition value
      assert(df.filter(col("sample") === "s1").count() == 100050L)
      assert(spark.read.format("bam").load(root.toString).limit(7).count() == 7)
    }
  }

  test("file without an index splits via record resync since round 11 (same rows)") {
    // strip the .bai sibling by copying just the .bam part elsewhere:
    // before round 11 this shape stayed one task; now the index-free
    // record-resync split (BamResyncSpec) fans it out with identical rows
    val src = new java.io.File(bamDir).listFiles()
      .filter(_.getName.endsWith(".bam")).head
    val dir = graft.TestTmp.dir("bgzf_split_noidx")
    val dst = new java.io.File(dir.toFile, src.getName)
    java.nio.file.Files.copy(src.toPath, dst.toPath,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    withConf(splitConf: _*) {
      val df = spark.read.format("bam").load(dst.getAbsolutePath)
      assert(df.rdd.getNumPartitions > 1, "resync split did not engage")
      assert(df.count() == 100050L)
    }
  }
}
