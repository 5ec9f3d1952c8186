package perfbench

import java.io.File

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

/** One benchmark run of one workload, driven by a plan file that run.py
  * derives from the workload seed. graft is timed from outside, through
  * the SQL and DataFrame calls a user makes.
  *
  *   Main --workload region|scan_write --plan <tsv> --corpus <dir>
  *        --seconds <s> --trace 0|1 --out <jsonl> --work <dir> --cpus <n>
  *        --warmup-rounds <k>
  *
  * Every operation's output is written to --out for run.py to check; this
  * program only times and records. With --trace 1 the timed phase is split
  * into an untraced and a traced half (the difference is the tracing
  * overhead) and the direct per-layer calls of [[Layers]] follow.
  */
object Main {
  final case class Op(round: Int, kind: String, leg: String, p: Array[String])

  def main(args: Array[String]): Unit = {
    val entered = System.nanoTime()
    val o = args.grouped(2).map(a => a(0).stripPrefix("--") -> a(1)).toMap
    val workload = o("workload")
    val corpus = new File(o("corpus")).getAbsolutePath
    val work = new File(o("work")).getAbsolutePath
    val seconds = o("seconds").toDouble
    val trace = o("trace") == "1"
    val cpus = o("cpus")
    val warmupRounds = o("warmup-rounds").toInt
    val plan = readPlan(o("plan"))
    val out = new Out(o("out"))
    // Exit explicitly: after a failure a live SparkContext's non-daemon
    // threads would keep the JVM up.
    val rc = try { run(workload, corpus, work, seconds, trace, cpus, warmupRounds, plan, out, entered); 0 }
    catch { case e: Throwable => e.printStackTrace(); 1 }
    finally out.close()
    System.exit(rc)
  }

  private def readPlan(path: String): IndexedSeq[IndexedSeq[Op]] = {
    val src = scala.io.Source.fromFile(path)
    val ops = try src.getLines().filter(_.nonEmpty).map { l =>
      val f = l.split("\t", -1)
      Op(f(0).toInt, f(1), f(2), f.drop(3))
    }.toVector finally src.close()
    ops.groupBy(_.round).toVector.sortBy(_._1).map(_._2)
  }

  private def run(workload: String, corpus: String, work: String, seconds: Double,
                  trace: Boolean, cpus: String, warmupRounds: Int,
                  plan: IndexedSeq[IndexedSeq[Op]], out: Out, entered: Long): Unit = {
    val w: Workload = workload match {
      case "region" => new RegionWorkload(corpus)
      case "scan_write" => new ScanWriteWorkload(corpus, work)
      case other => sys.error(s"unknown workload: $other")
    }
    val spark = graft.LocalSession.build(cpus)
    graft.GraftSession.registerAll(spark)
    w.setup(spark)

    var next = 0
    def phase(name: String, budget: Double, rounds: Int, tracer: Option[Tracer]): Unit = {
      val t0 = System.nanoTime()
      val first = next
      while (next - first < rounds && (System.nanoTime() - t0) / 1e9 < budget) {
        require(next < plan.length, s"plan exhausted after $next rounds")
        val ops = plan(next)
        next += 1
        val r0 = System.nanoTime()
        ops.foreach { op =>
          tracer.foreach(_.begin(spark, op))
          val s0 = System.nanoTime()
          val res = try Right(w.exec(spark, op)) catch {
            case e: Throwable => Left(Option(e.getMessage).getOrElse(e.toString).take(300))
          }
          val ms = (System.nanoTime() - s0) / 1e6
          tracer.foreach(_.end(spark, op, ms))
          res match {
            case Right(r) => out.obj("type" -> "op", "phase" -> name, "round" -> op.round,
              "kind" -> op.kind, "leg" -> op.leg, "ms" -> ms, "result" -> r)
            case Left(msg) => out.obj("type" -> "op", "phase" -> name, "round" -> op.round,
              "kind" -> op.kind, "leg" -> op.leg, "ms" -> ms, "error" -> msg)
          }
        }
        out.obj("type" -> "round", "phase" -> name, "round" -> ops.head.round,
          "s" -> (System.nanoTime() - r0) / 1e9)
      }
    }

    // Set-up runs from entering main to the first timed operation: session
    // start, table registration and the first rounds of the plan, untimed
    // (their answers are still checked), so that most JIT compilation is
    // done before timing starts.
    phase("warmup", Double.PositiveInfinity, warmupRounds, None)
    out.obj("type" -> "setup", "s" -> (System.nanoTime() - entered) / 1e9)

    if (!trace) phase("timed", seconds, Int.MaxValue, None)
    else {
      phase("untraced", seconds / 2, Int.MaxValue, None)
      val tracer = new Tracer(spark)
      phase("traced", seconds / 2, Int.MaxValue, Some(tracer))
      tracer.close(spark)
      tracer.summary.foreach { case (k, v) => out.obj("type" -> "layer", "name" -> k, "value" -> v) }
      tracer.ops.foreach(t => out.obj("type" -> "op_trace", "kind" -> t.kind, "leg" -> t.leg,
        "wall_ms" -> t.wallMs, "in_job_ms" -> t.inJobMs, "jobs" -> t.jobs))
    }
    try {
      w.verify(spark, out)
      if (trace) new Layers(spark, corpus, work, out).runAll()
    } finally {
      w.teardown()
      spark.stop()
    }
  }
}

/** A workload: table registration, one operation, post-run checks. */
trait Workload {
  def setup(spark: SparkSession): Unit
  /** Runs one operation and returns its output as strings for run.py. */
  def exec(spark: SparkSession, op: Main.Op): Seq[Any]
  def verify(spark: SparkSession, out: Out): Unit = ()
  def teardown(): Unit = ()
}

object Workload {
  def strings(rows: Array[Row]): Seq[Any] =
    rows.toSeq.map(r => r.toSeq.map(v => if (v == null) null else v.toString))
}

// ---------------------------------------------------------------------------
// region: narrow indexed queries, local and over the in-process MiniS3
// ---------------------------------------------------------------------------

final class RegionWorkload(corpus: String) extends Workload {
  private val cohort = s"$corpus/region/cohort"
  private val bam = s"$corpus/region/reads"
  private val fasta = s"$corpus/region/ref/ref.fasta"
  private var s3: graft.tools.MiniS3 = _

  override def setup(spark: SparkSession): Unit = {
    spark.sql(s"CREATE TABLE IF NOT EXISTS cohort USING vcf LOCATION '$cohort'")
    spark.sql(s"CREATE TABLE IF NOT EXISTS reads USING bam LOCATION '$bam'")
    s3 = S3Env.start(spark, cohort)
    spark.sql(s"CREATE TABLE IF NOT EXISTS cohort_s3 USING vcf LOCATION '${S3Env.CohortUri}'")
  }

  override def exec(spark: SparkSession, op: Main.Op): Seq[Any] = {
    val Array(c, lo, hi, pop, sample) = op.p
    val table = if (op.leg == "s3") "cohort_s3" else "cohort"
    val root = if (op.leg == "s3") S3Env.CohortUri else cohort
    def agg(df: DataFrame, c: String) =
      Workload.strings(df.agg(count(lit(1)), coalesce(sum(col(c)), lit(0L))).collect())
    op.kind match {
      case "vcf_sql_range" => Workload.strings(spark.sql(
        s"SELECT count(*), coalesce(sum(pos), 0) FROM $table " +
          s"WHERE chrom = '$c' AND pos BETWEEN $lo AND $hi").collect())
      case "vcf_sql_fn" => Workload.strings(spark.sql(
        s"SELECT count(*), coalesce(sum(pos), 0) FROM $table " +
          s"WHERE vcf_region_filter('$c:$lo-$hi', chrom, pos) AND pop = '$pop'").collect())
      case "vcf_option" =>
        agg(spark.read.format("vcf").option("region", s"$c:$lo-$hi")
          .load(s"$root/pop=$pop/sample=$sample"), "pos")
      case "bam_sql_fn" => Workload.strings(spark.sql(
        s"SELECT count(*), coalesce(sum(start), 0) FROM reads " +
          s"WHERE bam_region_filter('$c:$lo-$hi', reference, start, end)").collect())
      case "bam_sql_range" => Workload.strings(spark.sql(
        s"SELECT count(*), coalesce(sum(start), 0) FROM reads " +
          s"WHERE reference = '$c' AND start <= $hi AND end >= $lo").collect())
      case "fasta_option" =>
        val seqs = spark.read.format("fasta").option("region", s"$c:$lo-$hi").load(fasta)
          .select("sequence").collect().map(_.getString(0))
        val crc = new java.util.zip.CRC32()
        seqs.foreach(s => crc.update(s.getBytes("US-ASCII")))
        Seq(Seq(seqs.map(_.length).sum.toString, crc.getValue.toString))
    }
  }

  override def teardown(): Unit = if (s3 != null) { s3.stop(); s3 = null }
}

/** The in-process MiniS3 with SigV4 auth, serving the VCF cohort. */
object S3Env {
  val Bucket = "bench"
  val CohortUri = s"s3://$Bucket/cohort"

  def start(spark: SparkSession, cohortDir: String): graft.tools.MiniS3 = {
    val s3 = new graft.tools.MiniS3().withAuth("benchkey", "benchsecret").start()
    val root = new File(cohortDir).toPath
    java.nio.file.Files.walk(root).filter(p => java.nio.file.Files.isRegularFile(p))
      .forEach(p => s3.put(Bucket, "cohort/" + root.relativize(p).toString,
        java.nio.file.Files.readAllBytes(p)))
    val conf = spark.sparkContext.hadoopConfiguration
    conf.set("fs.s3.impl", classOf[graft.sources.s3.S3HttpFileSystem].getName)
    conf.set("fs.s3.endpoint", s3.endpoint)
    conf.set("fs.s3.access.key", "benchkey")
    conf.set("fs.s3.secret.key", "benchsecret")
    conf.set("fs.s3.impl.disable.cache", "true")
    s3
  }
}

// ---------------------------------------------------------------------------
// scan_write: full scans with domain functions, then read -> filter -> write
// ---------------------------------------------------------------------------

/** One scanned file: scan name, graft short name and format, corpus
  * sub-directory, data-file suffix, and the columns its query reads.
  */
final case class ScanTable(name: String, fmt: String, format: graft.sources.GraftFormat,
                           sub: String, suffix: String, cols: Seq[String])

object ScanSql {
  import graft.sources.formats._
  val Tables: Seq[ScanTable] = Seq(
    ScanTable("fastq_bgzf", "fastq", FastqFormat, "fastq", ".fastq.gz", Seq("sequence", "quality_scores")),
    ScanTable("bam", "bam", BamFormat, "bam", ".bam", Seq("flag", "start", "sequence")),
    ScanTable("vcf_bgzf", "vcf", VcfFormat, "vcf", ".vcf.gz", Seq("pos", "qual", "info")),
    ScanTable("fasta_gz", "fasta", FastaFormat, "fasta_gz", ".fasta.gz", Seq("sequence")),
    ScanTable("mzml", "mzml", MzMlFormat, "mzml", ".mzML", Seq("intensity")),
    ScanTable("cram", "cram", CramFormat, "cram", ".cram", Seq("flag", "start", "sequence")))

  private val gc = "CAST(round(gc_content(sequence) * length(sequence)) AS BIGINT)"

  def query(scan: String, from: String): String = scan match {
    case "fastq_bgzf" =>
      s"SELECT count(*), sum(length(sequence)), sum($gc), " +
        "sum(CAST(round(gc_content(reverse_complement(sequence)) * length(sequence)) AS BIGINT)), " +
        "sum(size(quality_scores_to_list(quality_scores))), " +
        s"sum(element_at(quality_scores_to_list(quality_scores), 1)) FROM $from"
    case "bam" | "cram" =>
      s"SELECT count(*), sum(length(sequence)), sum($gc), " +
        "sum(CAST(is_reverse_complemented(flag) AS INT)), sum(CAST(is_duplicate(flag) AS INT)), " +
        s"sum(start) FROM $from"
    case "vcf_bgzf" =>
      s"SELECT count(*), sum(pos), sum(CAST(qual AS BIGINT)), sum(octet_length(info)) FROM $from"
    case "fasta_gz" => s"SELECT count(*), sum(length(sequence)), sum($gc) FROM $from"
    case "mzml" =>
      "SELECT count(*), sum(size(intensity.intensity)), " +
        s"sum(aggregate(intensity.intensity, 0D, (a, x) -> a + x)) FROM $from"
  }
}

final class ScanWriteWorkload(corpus: String, work: String) extends Workload {
  private val scanDir = s"$corpus/scan"
  private val outDir = s"$work/out"
  private val bamWrites = ArrayBuffer[(String, Array[String])]()

  override def setup(spark: SparkSession): Unit = ScanSql.Tables.foreach { t =>
    spark.sql(s"CREATE TABLE IF NOT EXISTS t_${t.name} USING ${t.fmt} LOCATION '$scanDir/${t.sub}'")
  }

  override def exec(spark: SparkSession, op: Main.Op): Seq[Any] = op.kind match {
    case "write_fastq" =>
      // gzip, not bgzf: the fastq sink refuses bgzf (it has no index to pair it with)
      val dir = s"$outDir/r${op.round}_fastq"
      spark.sql(s"SELECT * FROM t_fastq_bgzf WHERE CAST(substring(name, 5) AS BIGINT) % 8 = ${op.p(0)}")
        .write.format("fastq").mode("overwrite").option("compression", "gzip").save(dir)
      Seq(Seq(dir, dirBytes(dir).toString))
    case "write_bam" =>
      val dir = s"$outDir/r${op.round}_bam"
      val src = new File(s"$scanDir/bam").listFiles().filter(_.getName.endsWith(".bam")).head
      spark.sql(s"SELECT * FROM t_bam WHERE CAST(substring(name, 2) AS BIGINT) % 8 = ${op.p(0)}")
        .repartitionByRange(col("reference"), col("start"))
        .sortWithinPartitions("reference", "start")
        .write.format("bam").mode("overwrite").option("headerFrom", src.getAbsolutePath).save(dir)
      bamWrites += ((dir, op.p.drop(1)))
      Seq(Seq(dir, dirBytes(dir).toString))
    case scan => Workload.strings(spark.sql(ScanSql.query(scan, s"t_$scan")).collect())
  }

  private def dirBytes(dir: String): Long =
    new File(dir).listFiles().filter(f => f.isFile && !f.getName.startsWith(".") &&
      !f.getName.startsWith("_")).map(_.length).sum

  /** Property check of each BAM write: its `.bai` must answer a region
    * query with exactly the rows a full scan plus filter returns.
    */
  override def verify(spark: SparkSession, out: Out): Unit = bamWrites.foreach {
    case (dir, Array(c, lo, hi)) =>
      val baiFiles = new File(dir).listFiles().count(_.getName.endsWith(".bam.bai"))
      val viaIndex = spark.read.format("bam").load(dir)
        .where(s"reference = '$c' AND start <= $hi AND end >= $lo").count()
      val viaScan = spark.read.format("bam").load(dir).select("reference", "start", "end")
        .collect().count(r => r.getString(0) == c && r.getLong(1) <= hi.toLong &&
          r.getLong(2) >= lo.toLong)
      out.obj("type" -> "bam_index_check", "dir" -> dir, "bai_files" -> baiFiles,
        "index_rows" -> viaIndex, "scan_rows" -> viaScan)
  }
}
