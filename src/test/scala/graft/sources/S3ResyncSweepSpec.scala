package graft.sources

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.SharedSpark
import graft.tools.MiniS3

/** Object-store arm for the index-free split families that BamResyncSpec /
  * BgzfBlockSplitSpec / FastqSplitSpec prove on local disk only: unindexed
  * BAM (binary record resync), unindexed bgzipped VCF (the same BGZF
  * record-resync cut + the line rule) and bgzipped FASTQ (validated 4-line
  * resync). A 300 GB
  * landing-zone file lives on an object store, where the access pattern —
  * not just the row result — must be sane: each split task should cost a
  * constant handful of ranged GETs (open at the cut + one header reopen),
  * never one GET per BGZF block or a full restart from byte 0.
  *
  * Pinned on the wire through the from-scratch S3 FileSystem against the
  * in-process MiniS3: split engagement (>= 3 partitions), exact row parity
  * with the local scan, GET count bounded by a small multiple of the
  * partition count (far under the file's BGZF block count), and ranged
  * seeks (non-zero Range offsets on the cut opens).
  */
class S3ResyncSweepSpec extends AnyFunSuite with SharedSpark {

  // --- fixtures (built once, on local disk, then uploaded) ---------------

  /** One-shard sorted BAM via the engine's own sink, .bai deleted. */
  private lazy val bamFile: java.io.File = {
    val dir = graft.TestTmp.dir("s3_resync_bam").toString + "/t"
    val n = 30000L
    val refs = (0 until 4).map(i => s"chr$i:40000000").mkString(",")
    spark.range(0, n).select(
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
      .repartitionByRange(1, col("reference"), col("start"))
      .sortWithinPartitions("reference", "start")
      .write.format("bam").mode("overwrite").option("refs", refs).save(dir)
    new java.io.File(dir).listFiles()
      .filter(_.getName.endsWith(".bai")).foreach(f => assert(f.delete()))
    new java.io.File(dir).listFiles().filter(_.getName.endsWith(".bam"))
      .minBy(_.getName)
  }

  /** One unindexed bgzipped VCF (the shared landing-zone corpus shape). */
  private lazy val vcfGzFile: java.io.File = {
    val dir = graft.TestTmp.dir("s3_resync_vcfgz").toString
    graft.tools.Corpora.writeUnindexedVcfGz(spark, dir, 120000L)
    new java.io.File(dir, "calls.vcf.gz")
  }

  /** Bgzipped FASTQ, no index: 50k variable-length records through the
    * BgzfWriter, a third of quality lines starting with '@' (the resync
    * validator's adversarial case).
    */
  private lazy val fastqGzFile: java.io.File = {
    val dir = graft.TestTmp.dir("s3_resync_fastqgz").toFile
    val gz = new java.io.File(dir, "reads.fastq.gz")
    val md = java.security.MessageDigest.getInstance("MD5")
    val fos = new java.io.FileOutputStream(gz)
    val w = new BgzfWriter(new java.io.BufferedOutputStream(fos, 1 << 16))
    val sb = new StringBuilder(1 << 16)
    (0 until 50000).foreach { i =>
      md.reset()
      val h = md.digest(i.toString.getBytes("UTF-8"))
        .map(b => f"$b%02x").mkString
      val len = 24 + (h.take(4).hashCode.abs % 64)
      val seq = (h * 3).take(len).map {
        case c if c <= '3' => 'A'
        case c if c <= '7' => 'C'
        case c if c <= 'b' => 'G'
        case _ => 'T'
      }
      val qual0 = (h.reverse * 3).take(len).map(c => ('!' + (c % 40)).toChar)
      val qual = if (i % 3 == 0) "@" + qual0.drop(1) else qual0
      sb.setLength(0)
      sb.append('@').append("r").append(i).append('\n')
        .append(seq).append('\n').append('+').append('\n')
        .append(qual).append('\n')
      w.write(sb.toString.getBytes("UTF-8"))
    }
    w.finish(); fos.close()
    gz
  }

  // --- harness -----------------------------------------------------------

  /** The fs.s3.* keys are GLOBAL (shared SparkSession hadoopConfiguration)
    * — save/restore them so this suite cannot leave a later suite pointed
    * at a stopped MiniS3 port.
    */
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

  private def withConf[T](kvs: (String, String)*)(body: => T): T = {
    val saved = kvs.map { case (k, _) => k -> spark.conf.getOption(k) }
    try { kvs.foreach { case (k, v) => spark.conf.set(k, v) }; body }
    finally saved.foreach { case (k, vOpt) =>
      vOpt.fold(spark.conf.unset(k))(spark.conf.set(k, _))
    }
  }

  /** Upload `file`, scan it split through S3, and pin: engagement, row
    * parity with the local scan, bounded ranged GETs.
    */
  private def sweepCase(name: String, file: java.io.File, fmt: String,
                        splitBytes: Long, project: DataFrame => DataFrame): Unit =
    withS3 { s3 =>
      s3.put("graft-resync", s"$name/${file.getName}",
        java.nio.file.Files.readAllBytes(file.toPath))
      withConf(
        "spark.sql.files.maxPartitionBytes" -> splitBytes.toString,
        "spark.sql.files.openCostInBytes" -> splitBytes.toString) {
        val local = project(spark.read.format(fmt).load(file.getAbsolutePath))
        val viaS3 = project(spark.read.format(fmt)
          .load(s"s3://graft-resync/$name/${file.getName}"))
        val parts = viaS3.rdd.getNumPartitions
        assert(parts >= 3,
          s"$name: index-free split did not engage over S3 ($parts partition(s), " +
            s"file ${file.length()} B, split $splitBytes B)")
        import scala.jdk.CollectionConverters._
        s3.requests.clear() // drop planning/listing traffic; pin the scan
        val n = viaS3.count()
        val gets = s3.requests.asScala
          .filter(r => r._1 == "GET" && r._2.endsWith(file.getName)).toSeq
        // ~2 GETs/task (cut open + header reopen) with slack for retries;
        // a per-block or per-record access pattern would blow far past this
        val bound = 6 * parts + 6
        assert(gets.size <= bound,
          s"$name: split scan issued ${gets.size} GETs for $parts partitions " +
            s"(bound $bound) — per-block/per-record access pattern?")
        val offsets = gets.flatMap(_._3).map { h =>
          h.stripPrefix("bytes=").takeWhile(_ != '-').toLong
        }
        assert(offsets.count(_ > 0) >= parts - 1,
          s"$name: expected >=${parts - 1} ranged (non-zero offset) cut seeks, " +
            s"saw offsets $offsets")
        assert(n == local.count(), s"$name: S3 row count differs from local")
        assert(viaS3.except(local).count() == 0 &&
            local.except(viaS3).count() == 0,
          s"$name: S3 split rows differ from local")
      }
    }

  // --- r13 split-family fixtures (landing formats on object stores) ------

  /** 6000-record GenBank flat file (~1.4 MB), LOCUS-aligned splits. */
  private lazy val genbankFile: java.io.File = {
    val dir = graft.TestTmp.dir("s3_resync_genbank")
    val f = new java.io.File(dir.toFile, "release.gb")
    val w = new java.io.BufferedWriter(new java.io.FileWriter(f), 1 << 20)
    val bases = "acgt" * 15
    (0 until 6000).foreach { k =>
      val n = 60
      w.write(f"LOCUS       SEQ$k%d             $n%d bp    DNA     linear   CON 24-APR-2019\n")
      w.write(f"ACCESSION   A$k%06d\n")
      w.write("FEATURES             Location/Qualifiers\n")
      w.write(s"     gene            1..$n\n")
      w.write(s"""                     /locus_tag="LT$k"\n""")
      w.write("ORIGIN\n")
      w.write(f"${1}%9d $bases\n")
      w.write("//\n")
    }
    w.close()
    f
  }

  /** 4000 byte-identical SDF molecules, $$$$-aligned splits + lookback. */
  private lazy val sdfFile: java.io.File = {
    val dir = graft.TestTmp.dir("s3_resync_sdf")
    val f = new java.io.File(dir.toFile, "mols.sdf")
    val w = new java.io.BufferedWriter(new java.io.FileWriter(f), 1 << 20)
    (0 until 4000).foreach { k =>
      w.write(f"MOL$k%05d\n  SYNTH\ncomment\n")
      w.write("  2  1  0  0  0  0  0  0  0  0999 V2000\n")
      w.write("    0.0000    0.0000    0.0000 C\n")
      w.write("    1.0000    0.0000    0.0000 O\n")
      w.write("  1  2  1  0\nM  END\n> <id>\n")
      w.write(f"$k%05d\n\n")
      w.write("$$$$\n")
    }
    w.close()
    f
  }

  /** 300k-event x 6-param FCS (~7 MB), fixed-stride splits from the header. */
  private lazy val fcsFile: java.io.File = {
    val dir = graft.TestTmp.dir("s3_resync_fcs")
    val f = new java.io.File(dir.toFile, "big.fcs")
    val nEvents = 300000
    val text = "/$PAR/6/$TOT/" + nEvents + "/$DATATYPE/F/$BYTEORD/1,2,3,4" +
      "/$P1S/FSC-A/$P2S/SSC-A/$P3S/FL1-A/$P4S/FL2-A/$P5S/FL3-A/$P6S/TIME/"
    val textStart = 58
    val textEnd = textStart + text.length - 1
    val dataStart = textStart + text.length
    val dataEnd = dataStart + nEvents.toLong * 6 * 4 - 1
    val header = f"FCS3.0    $textStart%8d$textEnd%8d$dataStart%8d$dataEnd%8d${0}%8d${0}%8d"
    val out = new java.io.DataOutputStream(new java.io.BufferedOutputStream(
      new java.io.FileOutputStream(f), 1 << 20))
    out.writeBytes(header); out.writeBytes(text)
    var i = 0
    while (i < nEvents) {
      var p = 0
      while (p < 6) {
        out.writeInt(Integer.reverseBytes(java.lang.Float.floatToIntBits(
          ((i * 7 + p * 3) % 16381).toFloat)))
        p += 1
      }
      i += 1
    }
    out.close()
    f
  }

  /** 3000-spectra uncompressed mzML (~3 MB), spectrum-tag resync splits. */
  private lazy val mzmlFile: java.io.File = {
    val dir = graft.TestTmp.dir("s3_resync_mzml")
    val f = new java.io.File(dir.toFile, "big.mzML")
    val w = new java.io.BufferedWriter(new java.io.FileWriter(f), 1 << 20)
    def b64zlib(vals: Array[Double]): String = {
      val bb = java.nio.ByteBuffer.allocate(vals.length * 8)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      vals.foreach(bb.putDouble)
      val defl = new java.util.zip.Deflater()
      defl.setInput(bb.array()); defl.finish()
      val out = new java.io.ByteArrayOutputStream(vals.length * 8)
      val buf = new Array[Byte](8192)
      while (!defl.finished()) out.write(buf, 0, defl.deflate(buf))
      defl.end()
      java.util.Base64.getEncoder.encodeToString(out.toByteArray)
    }
    w.write("<?xml version=\"1.0\" encoding=\"utf-8\"?>\n<mzML><run><spectrumList>\n")
    (0 until 3000).foreach { i =>
      val n = 40
      val mz = Array.tabulate(n)(j => 100.0 + i % 7 + j * 9.97)
      val inten = Array.tabulate(n)(j => ((i * 31 + j * 17) % 10000).toDouble)
      w.write(s"""<spectrum id="scan=$i" index="$i" defaultArrayLength="$n">""")
      w.write("""<binaryDataArrayList count="2">""")
      w.write("""<binaryDataArray><cvParam accession="MS:1000514" name="m/z array"/>""" +
        """<cvParam accession="MS:1000523" name="64-bit float"/>""" +
        """<cvParam accession="MS:1000574" name="zlib compression"/>""" +
        s"<binary>${b64zlib(mz)}</binary></binaryDataArray>")
      w.write("""<binaryDataArray><cvParam accession="MS:1000515" name="intensity array"/>""" +
        """<cvParam accession="MS:1000523" name="64-bit float"/>""" +
        """<cvParam accession="MS:1000574" name="zlib compression"/>""" +
        s"<binary>${b64zlib(inten)}</binary></binaryDataArray>")
      w.write("</binaryDataArrayList></spectrum>\n")
    }
    w.write("</spectrumList></run></mzML>\n")
    w.close()
    f
  }

  // --- the three families ------------------------------------------------

  test("unindexed BAM record-resync split over S3: bounded ranged GETs, exact rows") {
    sweepCase("bam", bamFile, "bam", 524288L,
      _.select("name", "reference", "start", "cigar"))
  }

  test("unindexed bgzipped VCF record-resync split over S3: bounded ranged GETs, exact rows") {
    sweepCase("vcf", vcfGzFile, "vcf", 262144L,
      _.select("chrom", "pos", "ref", "info"))
  }

  test("bgzipped FASTQ 4-line resync split over S3: bounded ranged GETs, exact rows") {
    sweepCase("fastq", fastqGzFile, "fastq", 262144L,
      _.select("name", "sequence", "quality_scores"))
  }

  // --- the r13 split families, same wire contract -------------------------

  test("GenBank LOCUS-aligned split over S3: bounded ranged GETs, exact rows") {
    sweepCase("genbank", genbankFile, "genbank", 131072L,
      _.select(col("name"), col("accession"), length(col("sequence")).as("slen")))
  }

  test("SDF $$$$-aligned split (with lookback preads) over S3: bounded ranged GETs, exact rows") {
    sweepCase("sdf", sdfFile, "sdf", 65536L,
      _.select(col("header"), col("atom_count"), col("data")("id").as("id")))
  }

  test("FCS fixed-stride split over S3: bounded ranged GETs, exact rows") {
    sweepCase("fcs", fcsFile, "fcs", 1048576L,
      _.select(col("FSC-A"), col("TIME")))
  }

  test("mzML spectrum-tag resync split over S3: bounded ranged GETs, exact rows") {
    sweepCase("mzml", mzmlFile, "mzml", 262144L,
      _.select(col("id"), size(col("mz.mz")).as("n_mz"),
        expr("CAST(aggregate(intensity.intensity, 0D, (a, x) -> a + x) AS LONG)")
          .as("sum_inten")))
  }
}
