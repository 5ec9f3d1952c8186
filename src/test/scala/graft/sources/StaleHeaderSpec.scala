package graft.sources

import java.io.File
import java.nio.file.{Files, StandardCopyOption}
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.SharedSpark
import graft.tools.MiniS3

/** A mid-file chunk takes its file's header from the executor-side memo
  * (RecordInput.fileHeader). A file rewritten in place at the same path —
  * here with its reference table swapped — must be read with its NEW header:
  * the memo is keyed by the listing's (path, mtime, length), so the rewrite
  * re-keys. Each test reads once (warming the memo), overwrites the data
  * file and its index with a distinct mtime, and reads again; every row's
  * name carries the reference it was written on, so a stale header shows
  * as a row whose reference name disagrees with its name. The S3 twin
  * rewrites an object at the same length, so only the object's
  * LastModified can re-key it.
  */
class StaleHeaderSpec extends AnyFunSuite with SharedSpark {

  private val T0 = 1600000000000L

  private def withConf[T](kvs: (String, String)*)(body: => T): T = {
    val saved = kvs.map { case (k, _) => k -> spark.conf.getOption(k) }
    try { kvs.foreach { case (k, v) => spark.conf.set(k, v) }; body }
    finally saved.foreach { case (k, vOpt) =>
      vOpt.fold(spark.conf.unset(k))(spark.conf.set(k, _))
    }
  }

  /** Copy the one `ext` part file under `out`, and its `idx` sibling, to
    * `dst`, both stamped `mtime`.
    */
  private def install(out: String, ext: String, idx: String, dst: File,
                      mtime: Long): Unit = {
    val parts = new File(out).listFiles().filter(_.getName.endsWith(ext))
    assert(parts.length == 1, s"expected one $ext part under $out")
    val dstIdx = new File(dst.getPath + idx)
    Files.copy(parts.head.toPath, dst.toPath, StandardCopyOption.REPLACE_EXISTING)
    Files.copy(new File(parts.head.getPath + idx).toPath, dstIdx.toPath,
      StandardCopyOption.REPLACE_EXISTING)
    assert(dst.setLastModified(mtime) && dstIdx.setLastModified(mtime))
  }

  /** Header order `order`; rows alternate chrA/chrB, sorted in header order. */
  private def alignments(order: Seq[String], n: Long): DataFrame =
    spark.range(0, n).select(
        when(col("id") % 2 === 0, "chrA").otherwise("chrB").as("reference"),
        col("id"))
      .select(
        concat(col("reference"), lit("_r"), col("id")).as("name"),
        lit(0).as("flag"),
        col("reference"),
        ((col("id") / 2).cast("long") * 100 + 1).as("start"),
        ((col("id") / 2).cast("long") * 100 + 50).as("end"),
        lit("30").as("mapping_quality"),
        lit("50M").as("cigar"),
        lit(null).cast("string").as("mate_reference"),
        rpad(lit(""), 50, "ACGT").as("sequence"),
        array_repeat(lit(30L), 50).as("quality_score"),
        array().cast("array<struct<tag:string,value:string>>").as("tags"),
        when(col("reference") === order.head, 0).otherwise(1).as("rank"))
      .repartition(1)
      .sortWithinPartitions("rank", "start")
      .drop("rank")

  private def refsOption(order: Seq[String]): String =
    order.map(_ + ":1000000").mkString(",")

  /** Rows whose reference disagrees with the one their name was written on. */
  private def misnamed(df: DataFrame, nameCol: String, refCol: String): Long =
    df.filter(!col(nameCol).startsWith(concat(col(refCol), lit("_")))).count()

  test("bam: a region read after an in-place rewrite uses the new header") {
    val dir = graft.TestTmp.dir("stale_bam").toFile
    val bam = new File(dir, "data/x.bam")
    bam.getParentFile.mkdirs()
    def write(order: Seq[String], tag: String, mtime: Long): Unit = {
      val out = new File(dir, tag).getAbsolutePath
      alignments(order, 400).write.format("bam").mode("overwrite")
        .option("refs", refsOption(order)).save(out)
      install(out, ".bam", ".bai", bam, mtime)
    }
    def regionA(): DataFrame = spark.read.format("bam").option("region", "chrA:1-100000")
      .load(bam.getParent).select("name", "reference")

    write(Seq("chrA", "chrB"), "w1", T0)
    assert(regionA().count() == 200)
    write(Seq("chrB", "chrA"), "w2", T0 + 60000)
    val after = regionA()
    assert(after.count() == 200, "region read lost chrA rows after the rewrite")
    assert(misnamed(after, "name", "reference") == 0)
    assert(after.select("reference").distinct().collect().map(_.getString(0)).toSeq ==
      Seq("chrA"))
  }

  test("bcf: a region read through the .csi after an in-place rewrite uses the new header") {
    val dir = graft.TestTmp.dir("stale_bcf").toFile
    val bcf = new File(dir, "data/x.bcf")
    bcf.getParentFile.mkdirs()
    def write(order: Seq[String], tag: String, mtime: Long): Unit = {
      val header = new File(dir, s"$tag.vcf")
      Files.writeString(header.toPath,
        "##fileformat=VCFv4.3\n" +
          order.map(c => s"##contig=<ID=$c,length=1000000>\n").mkString +
          "##INFO=<ID=DP,Number=1,Type=Integer,Description=\"depth\">\n" +
          "#CHROM\tPOS\tID\tREF\tALT\tQUAL\tFILTER\tINFO\n")
      val out = new File(dir, tag).getAbsolutePath
      spark.range(0, 400).select(
          when(col("id") % 2 === 0, "chrA").otherwise("chrB").as("chrom"),
          col("id"))
        .select(
          col("chrom"),
          ((col("id") / 2).cast("long") * 100 + 1).as("pos"),
          array(concat(col("chrom"), lit("_v"), col("id"))).as("id"),
          lit("A").as("ref"),
          array(lit("C")).as("alt"),
          lit(30f).as("qual"),
          lit(null).cast("array<string>").as("filter"),
          concat(lit("DP="), (col("id") % 50).cast("string")).as("info"),
          lit(null).cast("string").as("formats"),
          when(col("chrom") === order.head, 0).otherwise(1).as("rank"))
        .repartition(1)
        .sortWithinPartitions("rank", "pos")
        .drop("rank")
        .write.format("bcf").mode("overwrite").option("headerFrom", header.getPath)
        .save(out)
      install(out, ".bcf", ".csi", bcf, mtime)
    }
    def regionA(): DataFrame = spark.read.format("bcf").option("region", "chrA:1-100000")
      .load(bcf.getParent).select(element_at(col("id"), 1).as("vid"), col("chrom"))

    write(Seq("chrA", "chrB"), "w1", T0)
    assert(regionA().count() == 200)
    write(Seq("chrB", "chrA"), "w2", T0 + 60000)
    val after = regionA()
    assert(after.count() == 200, "region read lost chrA rows after the rewrite")
    assert(misnamed(after, "vid", "chrom") == 0)
  }

  test("cram: .crai-aligned mid chunks after an in-place rewrite use the new header") {
    val dir = graft.TestTmp.dir("stale_cram").toFile
    val cram = new File(dir, "data/x.cram")
    cram.getParentFile.mkdirs()
    // 10k records per container: 30k rows make 3 containers, so a small
    // split size cuts the file at its .crai offsets into mid-file chunks
    def write(order: Seq[String], tag: String, mtime: Long): Unit = {
      val out = new File(dir, tag).getAbsolutePath
      alignments(order, 30000).write.format("cram").mode("overwrite")
        .option("refs", refsOption(order)).save(out)
      install(out, ".cram", ".crai", cram, mtime)
    }
    def scan(): DataFrame = spark.read.format("cram").load(cram.getParent)
      .select("name", "reference")

    withConf("spark.sql.files.maxPartitionBytes" -> "4096",
             "spark.sql.files.openCostInBytes" -> "1024") {
      write(Seq("chrA", "chrB"), "w1", T0)
      val before = scan()
      assert(before.rdd.getNumPartitions > 1, "cram did not split at its .crai offsets")
      assert(misnamed(before, "name", "reference") == 0)
      write(Seq("chrB", "chrA"), "w2", T0 + 60000)
      val after = scan()
      assert(after.rdd.getNumPartitions > 1)
      assert(after.count() == 30000)
      assert(misnamed(after, "name", "reference") == 0)
    }
  }

  /** A bgzipped VCF and its .tbi: three BGZF blocks of exactly one payload
    * each (header, then the records of `order(0)`, then of `order(1)`), so
    * swapping `order` moves the same compressed blocks and keeps the length.
    */
  private def blockSwappedVcf(order: Seq[String]): (Array[Byte], Array[Byte]) = {
    val payload = 65280 // BgzfWriter's block payload: a full buffer ends a block
    def line(chrom: String, i: Int, pad: Int): String =
      f"$chrom\t${100000 + i * 10}\t${chrom}_v$i%05d\tA\tG\t50\tPASS\tAC=1;P=${"x" * pad}\n"
    val width = 60
    val pad = width - line("chrA", 0, 0).length
    val n = payload / width
    assert(payload % width == 0)
    val head = "##fileformat=VCFv4.2\n#CHROM\tPOS\tID\tREF\tALT\tQUAL\tFILTER\tINFO\n"
    val filler = "##filler=" + "x" * (payload - head.length - 10) + "\n"
    val data = new java.io.ByteArrayOutputStream()
    val w = new BgzfWriter(data)
    val tbi = new TabixWriter(order)
    w.write((head.take(21) + filler + head.drop(21)).getBytes("US-ASCII"))
    assert(w.virtualPos == (data.size.toLong << 16), "header is not one whole block")
    for (r <- order.indices; i <- 0 until n) {
      val bytes = line(order(r), i, pad).getBytes("US-ASCII")
      assert(bytes.length == width)
      val vs = w.virtualPos
      w.write(bytes)
      tbi.add(r, 100000 + i * 10 - 1, 100000 + i * 10, vs, w.virtualPos)
    }
    w.finish()
    val idx = new java.io.ByteArrayOutputStream()
    tbi.write(idx)
    (data.toByteArray, idx.toByteArray)
  }

  test("s3: a region read after an in-place rewrite at the same length uses the new index") {
    val s3 = new MiniS3().start()
    val conf = spark.sparkContext.hadoopConfiguration
    val keys = Seq("fs.s3.impl", "fs.s3.endpoint", "fs.s3.impl.disable.cache")
    val saved = keys.map(k => k -> Option(conf.get(k)))
    conf.set("fs.s3.impl", classOf[graft.sources.s3.S3HttpFileSystem].getName)
    conf.set("fs.s3.endpoint", s3.endpoint)
    conf.set("fs.s3.impl.disable.cache", "true")
    try {
      def install(order: Seq[String], mtime: Long): Array[Byte] = {
        val (vcf, tbi) = blockSwappedVcf(order)
        s3.put("graft-test", "stale/calls.vcf.gz", vcf, mtime)
        s3.put("graft-test", "stale/calls.vcf.gz.tbi", tbi, mtime)
        vcf
      }
      // a listed root (LIST's LastModified) and a file root (HEAD's Last-Modified)
      def chrAIds(root: String): Seq[String] = spark.read.format("vcf").load(root)
        .where("chrom = 'chrA' AND pos BETWEEN 100001 AND 100500")
        .select(element_at(col("id"), 1)).collect().map(_.getString(0)).toSeq
      val roots = Seq("s3://graft-test/stale", "s3://graft-test/stale/calls.vcf.gz")
      val v1 = install(Seq("chrA", "chrB"), T0)
      roots.foreach(r => assert(chrAIds(r).size == 50, r))
      val v2 = install(Seq("chrB", "chrA"), T0 + 60000)
      assert(v1.length == v2.length && !v1.sameElements(v2))
      roots.foreach { r =>
        val ids = chrAIds(r)
        assert(ids.size == 50, s"$r: region read lost chrA rows after the rewrite")
        assert(ids.forall(_.startsWith("chrA_")), r)
      }
    } finally {
      s3.stop()
      saved.foreach { case (k, v) =>
        v match { case Some(x) => conf.set(k, x); case None => conf.unset(k) }
      }
    }
  }
}
