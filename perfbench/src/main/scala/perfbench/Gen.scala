package perfbench

import java.io.{BufferedOutputStream, File, FileOutputStream}
import java.nio.charset.StandardCharsets.US_ASCII

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.sources.{BgzfWriter, FaiIndex, TabixWriter}

/** Corpus generator. Every record is a closed-form function of its index,
  * so `corpus.py` can compute the expected answer of any region query
  * without reading a file. The formulas here and in `corpus.py` must stay
  * in step; the marker `corpus.py` writes covers the bytes produced.
  *
  * Files are written through graft's own writers: BgzfWriter/TabixWriter
  * for the VCF cohort, the bam and cram sinks, FaiIndex for the FASTA,
  * and the shared bench corpora (Corpora) for the unindexed scans.
  */
object Gen {
  // ---- region corpus shape (mirrored in corpus.py) ----
  val Chroms = 4
  val Samples = 16
  val SamplesPerPop = 4
  val VcfRecords = 25000 // per chrom per sample
  val VcfStep = 100
  val VcfJitter = 90
  val BamReads = 50000 // per chrom
  val BamStep = 50
  val BamJitter = 40
  val ReadLen = 100
  val FastaLen = 2500000 // per contig
  val FastaLine = 60

  // ---- scan corpus shape ----
  val ScanFastq = 300000L
  val ScanBam = 300000L
  val ScanVcf = 1000000L
  val ScanFasta = 150000L
  val ScanMzml = 40000

  def chrom(c: Int): String = s"chr${c + 1}"

  def vcfPos(k: Long, s: Int, c: Int): Long =
    k * VcfStep + 1 + ((k * 37 + s * 11 + c * 5) % VcfJitter)

  /** Base at 1-based position `p` of contig `c` (32-bit multiplicative hash). */
  def fastaBase(p: Long, c: Int): Char =
    "ACGT".charAt(((((p * 2654435761L + c * 1013904223L) & 0xffffffffL) >> 13) & 3).toInt)

  def main(args: Array[String]): Unit = {
    val Array(part, dirArg, cpus) = args
    val dir = new File(dirArg)
    val rc = try {
      part match {
        case "region" => region(dir, cpus)
        case "scan" => scan(dir, cpus)
        case "oracle-sql" => oracleSql(new File(dirArg))
        case other => sys.error(s"unknown corpus part: $other")
      }
      0
    } catch { case e: Throwable => e.printStackTrace(); 1 }
    System.exit(rc)
  }

  /** The DuckDB oracle SQL of the loop queries, for oracle.py. */
  private def oracleSql(f: File): Unit = {
    val sql = graft.SparkEntry.oracleSql
    val w = new java.io.PrintWriter(f, "UTF-8")
    try w.println(Layers.LoopQueries.map(q => Out.quote(q) + ":" + Out.quote(sql(q)))
      .mkString("{", ",", "}"))
    finally w.close()
  }

  private def session(cpus: String): SparkSession = graft.LocalSession.build(cpus)

  // ------------------------------------------------------------------
  // region: hive-partitioned tabix-indexed VCF cohort, BAM + .bai, FASTA + .fai
  // ------------------------------------------------------------------
  def region(dir: File, cpus: String): Unit = {
    dir.mkdirs()
    (0 until Samples).foreach { s =>
      val sd = new File(dir, f"cohort/pop=p${s / SamplesPerPop}/sample=s$s%02d")
      sd.mkdirs()
      writeVcf(new File(sd, "calls.vcf.gz"), s)
    }
    writeFasta(new File(dir, "ref/ref.fasta"))
    val spark = session(cpus)
    try writeRegionBam(spark, new File(dir, "reads").getAbsolutePath)
    finally spark.stop()
    cleanSinkLeftovers(dir)
  }

  private def writeVcf(f: File, s: Int): Unit = {
    val out = new BufferedOutputStream(new FileOutputStream(f), 1 << 16)
    val w = new BgzfWriter(out)
    val tbi = new TabixWriter((0 until Chroms).map(chrom))
    val hdr = new StringBuilder("##fileformat=VCFv4.2\n")
    (0 until Chroms).foreach { c =>
      hdr.append(s"##contig=<ID=${chrom(c)},length=${VcfRecords.toLong * VcfStep + VcfStep}>\n")
    }
    hdr.append("#CHROM\tPOS\tID\tREF\tALT\tQUAL\tFILTER\tINFO\n")
    w.write(hdr.toString.getBytes(US_ASCII))
    val sb = new java.lang.StringBuilder(128)
    (0 until Chroms).foreach { c =>
      var k = 0L
      while (k < VcfRecords) {
        val pos = vcfPos(k, s, c)
        val h = (k * 2654435761L + s * 97L + c) & 0xffffffffL
        sb.setLength(0)
        sb.append(chrom(c)).append('\t').append(pos).append("\t.\t")
          .append("ACGT".charAt(((k + s) % 4).toInt)).append('\t')
          .append("ACGT".charAt(((k + s + 1) % 4).toInt)).append('\t')
          .append((k * 7 + s) % 60).append("\tPASS\tDP=").append((k * 13 + s) % 100)
          .append(";H=").append(java.lang.Long.toHexString(h)).append('\n')
        val v0 = w.virtualPos
        w.write(sb.toString.getBytes(US_ASCII))
        tbi.add(c, pos - 1, pos, v0, w.virtualPos)
        k += 1
      }
    }
    w.finish()
    out.close()
    tbi.write(new File(f.getPath + ".tbi").toPath)
  }

  private def writeFasta(f: File): Unit = {
    f.getParentFile.mkdirs()
    val out = new BufferedOutputStream(new FileOutputStream(f), 1 << 16)
    val line = new Array[Byte](FastaLine + 1)
    (0 until Chroms).foreach { c =>
      out.write(s">${chrom(c)}\n".getBytes(US_ASCII))
      var p = 1L
      while (p <= FastaLen) {
        val n = math.min(FastaLine.toLong, FastaLen - p + 1).toInt
        var i = 0
        while (i < n) { line(i) = fastaBase(p + i, c).toByte; i += 1 }
        line(n) = '\n'
        out.write(line, 0, n + 1)
        p += n
      }
    }
    out.close()
    val path = new org.apache.hadoop.fs.Path(f.getAbsolutePath)
    FaiIndex.write(path.getFileSystem(new org.apache.hadoop.conf.Configuration()), path)
  }

  private def refsOption(len: Long): String =
    (0 until Chroms).map(c => s"${chrom(c)}:$len").mkString(",")

  private def writeRegionBam(spark: SparkSession, out: String): Unit = {
    val n = BamReads.toLong * Chroms
    val c = (col("id") % Chroms).cast("int")
    val k = (col("id") / Chroms).cast("long")
    val start = k * BamStep + 1 + ((k * 13 + c * 7) % BamJitter)
    spark.range(0, n).select(
        concat(lit("q"), c.cast("string"), lit("_"), k.cast("string")).as("name"),
        when(k % 3 === 0, lit(16)).otherwise(lit(0)).as("flag"),
        concat(lit("chr"), (c + 1).cast("string")).as("reference"),
        start.as("start"),
        (start + (ReadLen - 1)).as("end"),
        lit("30").as("mapping_quality"),
        lit(s"${ReadLen}M").as("cigar"),
        lit(null).cast("string").as("mate_reference"),
        readSeq(col("id")).as("sequence"),
        array_repeat(lit(30L), ReadLen).as("quality_score"),
        array().cast("array<struct<tag:string,value:string>>").as("tags"))
      .repartitionByRange(1, col("reference"), col("start"))
      .sortWithinPartitions("reference", "start")
      .write.format("bam").mode("overwrite")
      .option("refs", refsOption(BamReads.toLong * BamStep + 2 * ReadLen)).save(out)
  }

  /** High-entropy read bases derived from the record id. */
  private def readSeq(id: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    translate(substring(concat(md5(id.cast("string")),
        md5((id + 7000000L).cast("string")),
        md5((id + 14000000L).cast("string")),
        md5((id + 21000000L).cast("string"))), 1, ReadLen),
      "0123456789abcdef", "ACGTACGTACGTACGT")

  // ------------------------------------------------------------------
  // scan: large compressed files, one per scanned format
  // ------------------------------------------------------------------
  def scan(dir: File, cpus: String): Unit = {
    dir.mkdirs()
    val spark = session(cpus)
    try {
      graft.tools.Corpora.writeUnindexedFastqBgzf(spark,
        new File(dir, "fastq_work").getAbsolutePath, ScanFastq)
      moveInto(new File(dir, "fastq_work/t/reads.fastq.gz"), new File(dir, "fastq/reads.fastq.gz"))
      deleteTree(new File(dir, "fastq_work"))

      graft.tools.Corpora.writeUnindexedVcfGz(spark,
        new File(dir, "vcf_work").getAbsolutePath, ScanVcf)
      moveInto(new File(dir, "vcf_work/calls.vcf.gz"), new File(dir, "vcf/calls.vcf.gz"))
      deleteTree(new File(dir, "vcf_work"))

      val refs = (0 until 8).map(i => s"chr$i:${ScanBam / 8 * 100 + 200}").mkString(",")
      val bamDir = new File(dir, "bam").getAbsolutePath
      val id = col("id")
      spark.range(0, ScanBam).select(
          concat(lit("r"), id.cast("string")).as("name"),
          (when(id % 3 === 0, lit(16)).otherwise(lit(0)) +
            when(id % 11 === 0, lit(1024)).otherwise(lit(0))).as("flag"),
          concat(lit("chr"), (id % 8).cast("string")).as("reference"),
          ((id / 8).cast("long") * 100 + 1).as("start"),
          ((id / 8).cast("long") * 100 + ReadLen).as("end"),
          lit("30").as("mapping_quality"),
          lit(s"${ReadLen}M").as("cigar"),
          lit(null).cast("string").as("mate_reference"),
          readSeq(id).as("sequence"),
          array_repeat(lit(30L), ReadLen).as("quality_score"),
          array().cast("array<struct<tag:string,value:string>>").as("tags"))
        .repartitionByRange(1, col("reference"), col("start"))
        .sortWithinPartitions("reference", "start")
        .write.format("bam").mode("overwrite").option("refs", refs).save(bamDir)
      dropIndexes(new File(bamDir))

      val cramDir = new File(dir, "cram").getAbsolutePath
      spark.read.format("bam").load(bamDir)
        .repartitionByRange(1, col("reference"), col("start"))
        .sortWithinPartitions("reference", "start")
        .write.format("cram").mode("overwrite").option("refs", refs).save(cramDir)
      dropIndexes(new File(cramDir))

      // FASTA as one plain gzip member (not BGZF): the unsplittable shape.
      val fastaWork = new File(dir, "fasta_work").getAbsolutePath
      spark.range(0, ScanFasta).select(
          concat(lit("seq"), id.cast("string")).as("id"),
          lit(null).cast("string").as("description"),
          translate(concat(md5(id.cast("string")),
              md5((id + 1000000L).cast("string")),
              md5((id + 2000000L).cast("string")),
              md5((id + 3000000L).cast("string")),
              md5((id + 4000000L).cast("string")),
              md5((id + 5000000L).cast("string"))),
            "0123456789abcdef", "ACGTACGTACGTACGT").as("sequence"))
        .repartition(1).write.format("fasta").mode("overwrite").save(fastaWork)
      val plain = new File(fastaWork).listFiles().filter(_.getName.endsWith(".fasta")).head
      val gz = new File(dir, "fasta_gz/seqs.fasta.gz")
      gz.getParentFile.mkdirs()
      val zout = new java.util.zip.GZIPOutputStream(new FileOutputStream(gz), 1 << 16)
      java.nio.file.Files.copy(plain.toPath, zout)
      zout.close()
      deleteTree(new File(fastaWork))

      val mz = new File(dir, "mzml/spectra.mzML")
      graft.tools.Corpora.writeMzml(mz, ScanMzml)
      new File(dir, "mzml/spectra.mzML._done").delete()
      cleanSinkLeftovers(dir)
    } finally spark.stop()
  }

  private def moveInto(src: File, dst: File): Unit = {
    dst.getParentFile.mkdirs()
    java.nio.file.Files.move(src.toPath, dst.toPath,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
  }

  private def dropIndexes(d: File): Unit =
    d.listFiles().foreach { f =>
      val n = f.getName
      if (n.endsWith(".bai") || n.endsWith(".crai") || n.endsWith(".tbi")) f.delete()
    }

  /** Sinks leave `_SUCCESS`-style markers and hidden checksum files; the
    * corpus keeps data files only so its byte count is the scanned bytes.
    */
  private def cleanSinkLeftovers(d: File): Unit =
    Option(d.listFiles()).getOrElse(Array.empty).foreach { f =>
      if (f.isDirectory) cleanSinkLeftovers(f)
      else if (f.getName.startsWith("_") || f.getName.startsWith(".")) f.delete()
    }

  def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty).foreach(deleteTree)
    f.delete()
  }
}
