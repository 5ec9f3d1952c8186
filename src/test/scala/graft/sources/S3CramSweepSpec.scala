package graft.sources

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.SharedSpark
import graft.tools.MiniS3

/** Unindexed CRAM container splits against an in-process S3 server: a
  * full split scan over the from-scratch S3 filesystem returns exactly the
  * local rows, and the task-open resync (CramFormat.resyncContainerStart)
  * confirms container starts whose headers outgrow its first probe. The
  * resync's planning GET bound and its loud truncation error are pinned in
  * CramResyncSplitSpec.
  */
class S3CramSweepSpec extends AnyFunSuite with SharedSpark {

  /** Many-container unindexed CRAM: 8000 records, 100 per container ->
    * ~80 data containers, so most resync cuts land mid-container.
    */
  private lazy val cramFile: java.io.File = {
    val dir = graft.TestTmp.dir("cram_sweep_s3").toString + "/t"
    val n = 8000L
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
      .option("refs", refs).option("containerRecords", "100").save(dir)
    val f = new java.io.File(dir).listFiles()
      .filter(_.getName.endsWith(".cram")).minBy(_.getName)
    new java.io.File(dir).listFiles()
      .filter(_.getName.endsWith(".crai")).foreach(_.delete()) // unindexed arm
    f
  }

  /** The fs.s3.* keys are GLOBAL (shared SparkSession hadoopConfiguration)
    * — save/restore them so this suite cannot leave a later suite pointed
    * at a stopped MiniS3 port.
    */
  private def withS3(f: (MiniS3, org.apache.hadoop.conf.Configuration) => Unit): Unit = {
    val s3 = new MiniS3().start()
    val conf = spark.sparkContext.hadoopConfiguration
    val keys = Seq("fs.s3.impl", "fs.s3.endpoint", "fs.s3.impl.disable.cache")
    val saved = keys.map(k => k -> Option(conf.get(k)))
    conf.set("fs.s3.impl", classOf[graft.sources.s3.S3HttpFileSystem].getName)
    conf.set("fs.s3.endpoint", s3.endpoint)
    conf.set("fs.s3.impl.disable.cache", "true")
    try f(s3, conf) finally {
      s3.stop()
      saved.foreach { case (k, v) =>
        v match { case Some(x) => conf.set(k, x); case None => conf.unset(k) }
      }
    }
  }

  test("jumbo container headers (>4 KB, many landmarks): the task-open resync confirms every start") {
    // Hand-built stream via the sink's own codec: file definition +
    // FILE_HEADER container + a container whose header carries 1500
    // ascending landmarks (~4.6 KB header — past the 4 KB first probe, so
    // only the -2 bigger-buffer escalation can confirm it) + two normal
    // containers + EOF. Neither the chain nor the resync decodes payloads,
    // so zero-filled bodies are fine. The resync, started just past each
    // predecessor's start, must land exactly on the next true start
    // instead of skipping the jumbo one (which would drop its records).
    import graft.sources.CramCodec._
    val out = new java.io.ByteArrayOutputStream()
    out.write("CRAM".getBytes("US-ASCII")); out.write(3); out.write(0)
    out.write(new Array[Byte](20))
    def container(nRec: Int, payloadLen: Int, landmarks: Seq[Int]): Unit = {
      val hdr = containerHeader(payloadLen, 0, 1, 100, nRec, 0L,
        landmarks.length + 1, landmarks)
      out.write(hdr, 0, hdr.length)
      out.write(new Array[Byte](payloadLen))
    }
    val samHdr = block(1, 0, Array[Byte](0, 0, 0, 0), tryGzip = false)
    val fh = containerHeader(samHdr.length, 0, 0, 0, 0, 0L, 1, Seq(0))
    out.write(fh, 0, fh.length); out.write(samHdr, 0, samHdr.length)
    val starts = scala.collection.mutable.ArrayBuffer[Long]()
    starts += out.size().toLong
    container(100, 262144, (1 to 1500).map(_ * 100)) // jumbo: ~4.6 KB header
    starts += out.size().toLong
    container(100, 131072, Seq(64))
    starts += out.size().toLong
    container(100, 131072, Seq(64))
    starts += out.size().toLong
    val eof = eofContainer()
    out.write(eof, 0, eof.length)
    val bytes = out.toByteArray
    val dir = graft.TestTmp.dir("cram_jumbo")
    val f = java.nio.file.Paths.get(dir.toString, "jumbo.cram")
    java.nio.file.Files.write(f, bytes)
    val fmt = new graft.sources.formats.CramFormat(None, Nil)
    assert(CramResyncSplitSpec.containerStarts(fmt, bytes) == 26L +: starts.toSeq,
      "the header chain must walk through the jumbo header")
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(
      new org.apache.hadoop.conf.Configuration()).getRaw
    val in = fs.open(new org.apache.hadoop.fs.Path(f.toString))
    try {
      (26L +: starts.toSeq).sliding(2).foreach { case Seq(prev, next) =>
        val found = fmt.resyncContainerStart(in, prev + 1, next + 1, bytes.length.toLong)
        assert(found == next, s"resync from ${prev + 1} found $found, want $next")
      }
      // a range interior to the jumbo container's payload owns no start
      assert(fmt.resyncContainerStart(in, starts(0) + 8192, starts(0) + 16384,
        bytes.length.toLong) == -1L)
    } finally in.close()
  }

  test("full split scan of the unindexed CRAM over S3 matches local rows") {
    withS3 { (s3, _) =>
      s3.put("graft-sweep", "scan/u.cram",
        java.nio.file.Files.readAllBytes(cramFile.toPath))
      val saved = Seq("spark.sql.files.maxPartitionBytes",
        "spark.sql.files.openCostInBytes").map(k => k -> spark.conf.getOption(k))
      try {
        spark.conf.set("spark.sql.files.maxPartitionBytes", "32768")
        spark.conf.set("spark.sql.files.openCostInBytes", "4096")
        val viaS3 = spark.read.format("cram").load("s3://graft-sweep/scan/u.cram")
          .select("name", "reference", "start", "cigar")
        assert(viaS3.rdd.getNumPartitions >= 3,
          s"S3 split scan did not engage: ${viaS3.rdd.getNumPartitions} partition(s)")
        val local = spark.read.format("cram").load(cramFile.getAbsolutePath)
          .select("name", "reference", "start", "cigar")
        assert(viaS3.count() == 8000L)
        assert(viaS3.except(local).count() == 0 && local.except(viaS3).count() == 0,
          "S3 split scan rows differ from local")
      } finally saved.foreach { case (k, vOpt) =>
        vOpt.fold(spark.conf.unset(k))(spark.conf.set(k, _))
      }
    }
  }
}
