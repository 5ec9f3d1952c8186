package perfbench

import java.io.File

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.sources.{EqualTo, Filter, GreaterThanOrEqual, LessThanOrEqual}

import graft.sources._
import graft.sources.formats._

/** Direct calls into each layer's public functions (traced runs only), so
  * a change in an end-to-end number can be pinned to a layer. Every call
  * runs on the calling thread unless it is a Spark job by nature (the
  * function projections, the sink job and the loop queries). All inputs
  * are the workload corpora; the seed does not enter here, so two traced
  * runs time identical calls.
  */
final class Layers(spark: SparkSession, corpus: String, work: String, out: Out) {
  private val conf: Configuration = spark.sparkContext.hadoopConfiguration
  private val cohort = s"$corpus/region/cohort"
  private val scanDir = s"$corpus/scan"
  private val rnd = new scala.util.Random(7)

  private def emit(name: String, value: Double): Unit =
    out.obj("type" -> "layer", "name" -> name, "value" -> value)

  private def timed[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, (System.nanoTime() - t0) / 1e6)
  }

  private def dataFiles(dir: String, suffix: String): Seq[File] =
    new File(dir).listFiles().filter(_.getName.endsWith(suffix)).sortBy(_.getName).toSeq

  private def cohortFiles: Seq[File] = {
    val root = new File(cohort).toPath
    val it = java.nio.file.Files.walk(root).iterator()
    val b = Seq.newBuilder[File]
    while (it.hasNext) {
      val p = it.next()
      if (p.toString.endsWith(".vcf.gz")) b += p.toFile
    }
    b.result().sortBy(_.getPath)
  }

  private def region(): (String, Long, Long) = {
    val c = s"chr${rnd.nextInt(Gen.Chroms) + 1}"
    val lo = 1L + rnd.nextInt(Gen.VcfRecords * Gen.VcfStep - 20000)
    (c, lo, lo + 1000 + rnd.nextInt(19000))
  }

  def runAll(): Unit = {
    sources(); index(); bgzf(); formats(); functions(); s3(); write(); queries()
  }

  /** Listing and scan planning, as the region queries exercise them. */
  private def sources(): Unit = {
    val table = new GraftTable(VcfFormat, Map("path" -> cohort))
    val lists = (1 to 5).map(_ => timed(table.listNow()))
    emit("sources.list_ms", lists.map(_._2).sorted.apply(2))
    emit("sources.files_listed", lists.head._1._1.size)
    val plans = (1 to 50).map { _ =>
      val (c, lo, hi) = region()
      timed {
        val b = new GraftScanBuilder(table)
        b.pushFilters(Array[Filter](EqualTo("chrom", c), GreaterThanOrEqual("pos", lo),
          LessThanOrEqual("pos", hi)))
        b.build().toBatch.planInputPartitions()
          .flatMap(_.asInstanceOf[GraftInputPartition].chunks)
      }
    }
    emit("sources.plan_ms", plans.map(_._2).sum / plans.size)
    emit("sources.chunks_planned", plans.map(_._1.length).sum.toDouble / plans.size)
    emit("sources.planned_bytes", plans.map(_._1.map(chunkBytes).sum).sum.toDouble / plans.size)
    // Full-scan planning of the scan_write files: too few chunks caps the
    // scans' parallelism.
    val scanChunks = ScanSql.Tables.map { t =>
      new GraftScanBuilder(new GraftTable(t.format, Map("path" -> s"$scanDir/${t.sub}"))).build()
        .toBatch.planInputPartitions().length
    }
    emit("sources.scan_partitions_planned", scanChunks.sum.toDouble)
  }

  private def chunkBytes(c: FileChunk): Long =
    if (c.isBgzfChunk) math.max(0L, (c.vEnd >>> 16) - (c.vStart >>> 16)) + 1 else c.length

  private def index(): Unit = {
    val vcfs = cohortFiles
    val bam = dataFiles(s"$corpus/region/reads", ".bam").head
    val fasta = new Path(s"$corpus/region/ref/ref.fasta")
    val loads = vcfs.map(f => timed(TabixIndex.forFile(new Path(f.getPath), conf).get)) ++
      Seq(timed(BaiIndex.forBam(new Path(bam.getPath), conf).get)) ++
      Seq(timed { FaiIndex.read(fasta.getFileSystem(conf), fasta); null })
    emit("index.load_ms", loads.map(_._2).sum / loads.size)
    val idx = loads.take(vcfs.size).map(_._1.asInstanceOf[TabixIndex])
    val queries = (1 to 2000).map { i =>
      val (c, lo, hi) = region()
      val ix = idx(i % idx.size)
      val t0 = System.nanoTime()
      val chunks = ix.query(c, lo - 1, hi)
      ((System.nanoTime() - t0) / 1e3, chunks.size)
    }
    emit("index.query_us", queries.drop(500).map(_._1).sum / (queries.size - 500))
    emit("index.chunks_per_region", queries.map(_._2).sum.toDouble / queries.size)
  }

  /** One thread draining the FASTQ file through the BGZF block stream. */
  private def bgzf(): Unit = {
    val f = dataFiles(s"$scanDir/fastq", ".fastq.gz").head
    val buf = new Array[Byte](1 << 16)
    val rates = (1 to 3).map { _ =>
      val (_, ms) = timed {
        val in = new BgzfStreamInputStream(new java.io.BufferedInputStream(
          new java.io.FileInputStream(f), 1 << 16))
        try while (in.read(buf) >= 0) {} finally in.close()
      }
      f.length / 1e6 / (ms / 1e3)
    }
    emit("bgzf.inflate_mb_s", rates.sorted.apply(1))
  }

  /** Each file's partitions read one after another through the reader
    * factory Spark would use, on this thread, with no Spark job, projecting
    * the columns the scan_write query reads.
    */
  private def formats(): Unit = {
    var records = 0L
    ScanSql.Tables.foreach { t =>
      val dir = s"$scanDir/${t.sub}"
      val bytes = dataFiles(dir, t.suffix).map(_.length).sum
      val table = new GraftTable(t.format, Map("path" -> dir))
      val builder = new GraftScanBuilder(table)
      builder.pruneColumns(org.apache.spark.sql.types.StructType(
        t.cols.map(c => table.schema()(c))))
      val scan = builder.build()
      val batch = scan.toBatch
      val (n, ms) = timed {
        val factory = batch.createReaderFactory()
        var n = 0L
        batch.planInputPartitions().foreach { p =>
          val r = factory.createReader(p)
          try while (r.next()) { r.get(); n += 1 } finally r.close()
        }
        n
      }
      records += n
      emit(s"formats.${t.name}_decode_mb_s", bytes / 1e6 / (ms / 1e3))
    }
    emit("formats.records_parsed", records.toDouble)
  }

  /** Each function projected over a cached in-memory DataFrame. */
  private def functions(): Unit = {
    def cached(df: DataFrame): DataFrame = { val c = df.cache(); c.count(); c }
    val reads = cached(spark.read.format("fastq").load(s"$scanDir/fastq")
      .select("sequence", "quality_scores").limit(200000))
    val flags = cached(spark.read.format("bam").load(s"$scanDir/bam").select("flag").limit(200000))
    val calls = cached(spark.read.format("vcf").load(s"$scanDir/vcf").select("chrom", "pos")
      .limit(200000))
    def rate(name: String, df: DataFrame, e: String): Unit = {
      val rows = df.count()
      val times = (1 to 3).map(_ => timed(df.agg(sum(expr(e))).collect())._2)
      emit(s"functions.${name}_rows_per_s", rows / (times.sorted.apply(1) / 1e3))
    }
    rate("gc_content", reads, "gc_content(sequence)")
    rate("reverse_complement", reads, "length(reverse_complement(sequence))")
    rate("quality_scores_to_list", reads, "size(quality_scores_to_list(quality_scores))")
    rate("is_reverse_complemented", flags, "CAST(is_reverse_complemented(flag) AS INT)")
    rate("vcf_region_filter", calls, "CAST(vcf_region_filter('chr1:1-5000000', chrom, pos) AS INT)")
    Seq(reads, flags, calls).foreach(_.unpersist())
  }

  /** Request count and bytes per region query over MiniS3, and one ranged GET. */
  private def s3(): Unit = {
    val s3 = S3Env.start(spark, cohort)
    try {
      import scala.jdk.CollectionConverters._
      val sizes = s3.keys(S3Env.Bucket).map(k =>
        s"${S3Env.Bucket}/$k" -> s3.get(S3Env.Bucket, k).get.length.toLong).toMap
      spark.read.format("vcf").load(S3Env.CohortUri).where("chrom = 'chr1' AND pos < 5000").count()
      val before = s3.requests.size
      val nq = 10
      (1 to nq).foreach { _ =>
        val (c, lo, hi) = region()
        spark.read.format("vcf").load(S3Env.CohortUri)
          .where(s"chrom = '$c' AND pos BETWEEN $lo AND $hi").count()
      }
      val reqs = s3.requests.asScala.drop(before)
      val bytes = reqs.map { case (method, path, range) =>
        if (method != "GET") 0L
        else range.flatMap(parseRange(_, sizes.getOrElse(path, 0L)))
          .getOrElse(sizes.getOrElse(path, 0L))
      }.sum
      emit("s3.requests_per_query", reqs.size.toDouble / nq)
      emit("s3.bytes_per_query", bytes.toDouble / nq)
      val uri = new Path(s"${S3Env.CohortUri}/pop=p0/sample=s00/calls.vcf.gz")
      val fs = uri.getFileSystem(conf)
      val size = fs.getFileStatus(uri).getLen
      val buf = new Array[Byte](1 << 16)
      val gets = (1 to 20).map { i =>
        timed {
          val in = fs.open(uri)
          try in.readFully((size - buf.length) * i / 21, buf, 0, buf.length) finally in.close()
        }._2
      }
      emit("s3.ranged_get_ms", gets.sorted.apply(gets.size / 2))
    } finally s3.stop()
  }

  private def parseRange(h: String, size: Long): Option[Long] = {
    val m = "bytes=(\\d+)-(\\d*)".r.findFirstMatchIn(h)
    m.map { g =>
      val lo = g.group(1).toLong
      val hi = if (g.group(2).isEmpty) size - 1 else math.min(g.group(2).toLong, size - 1)
      math.max(0L, hi - lo + 1)
    }
  }

  /** BGZF deflate over in-memory bytes, then one fastq sink job. */
  private def write(): Unit = {
    val f = dataFiles(s"$scanDir/fastq", ".fastq.gz").head
    val raw = {
      val in = new BgzfStreamInputStream(new java.io.FileInputStream(f))
      try in.readNBytes(32 << 20) finally in.close()
    }
    val rates = (1 to 3).map { _ =>
      val sink = new java.io.OutputStream {
        override def write(b: Int): Unit = ()
        override def write(b: Array[Byte], off: Int, len: Int): Unit = ()
      }
      val (_, ms) = timed { val w = new BgzfWriter(sink); w.write(raw); w.finish() }
      raw.length / 1e6 / (ms / 1e3)
    }
    emit("write.deflate_mb_s", rates.sorted.apply(1))
    val dir = s"$work/out/layer_write_fastq"
    val df = spark.read.format("fastq").load(s"$scanDir/fastq").limit(50000)
    val (_, ms) = timed(df.write.format("fastq").mode("overwrite")
      .option("compression", "gzip").save(dir))
    emit("write.job_ms", ms)
    emit("write.bytes_written", new File(dir).listFiles().filter(_.isFile).map(_.length).sum.toDouble)
  }

  /** Each loop query forced once over the loops corpus; its rows go to
    * run.py, which checks them against loops_expected.json.
    */
  private def queries(): Unit = Layers.LoopQueries.foreach { q =>
    val (rows, ms) = timed(graft.SparkEntry.queries(q)(spark, s"$corpus/loops").collect())
    emit(s"queries.${q}_s", ms / 1e3)
    out.obj("type" -> "loop_result", "kind" -> q, "result" -> Workload.strings(rows))
  }
}

object Layers {
  val LoopQueries = Seq("l14_dup_clusters", "l21_dup_clusters_star", "l38_bpe_merges",
    "l50_longest_dup_span", "l62_copy_pagerank")
}
