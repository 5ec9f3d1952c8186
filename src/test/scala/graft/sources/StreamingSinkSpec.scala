package graft.sources

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

import graft.SharedSpark

/** Streaming WRITES through the graft sinks: `readStream` → transform →
  * `writeStream.format("fasta"/"vcf"/...)`. Epoch part names are
  * deterministic so replays are idempotent; the bgzf+.tbi family keeps its
  * sibling indexes under streaming commits.
  */
class StreamingSinkSpec extends AnyFunSuite with SharedSpark {

  test("fasta readStream -> writeStream(fasta) round trip (AvailableNow)") {
    val in = graft.TestTmp.dir("ssink_fa_in").toString
    val out = graft.TestTmp.dir("ssink_fa_out").toString
    val ckpt = graft.TestTmp.dir("ssink_fa_ckpt").toString
    (0 until 3).foreach { i =>
      Files.writeString(Paths.get(in, s"p$i.fasta"),
        (0 until 40).map(j => s">p${i}_$j d$j\n${"ACGT" * (j % 3 + 1)}\n").mkString)
    }
    val q = spark.readStream.format("fasta").load(in)
      .writeStream.format("fasta")
      .option("path", out).option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val src = spark.read.format("fasta").load(in)
    val back = spark.read.format("fasta").load(out)
    assert(back.count() == 120)
    assert(src.exceptAll(back).isEmpty && back.exceptAll(src).isEmpty)
  }

  test("streaming transcode: text VCF in -> bgzf+.tbi VCF out; region read prunes the sink's output") {
    val in = graft.TestTmp.dir("ssink_vcf_in").toString
    val out = graft.TestTmp.dir("ssink_vcf_out").toString
    val ckpt = graft.TestTmp.dir("ssink_vcf_ckpt").toString
    val sb = new StringBuilder("##fileformat=VCFv4.2\n")
    sb.append("#CHROM\tPOS\tID\tREF\tALT\tQUAL\tFILTER\tINFO\n")
    Seq("chr1", "chr2").foreach { c =>
      (1 to 500).foreach { i =>
        sb.append(s"$c\t${i * 100}\t.\tA\tT\t30\tPASS\tDP=$i\n")
      }
    }
    Files.writeString(Paths.get(in, "calls.vcf"), sb.toString)
    val q = spark.readStream.format("vcf").load(in)
      .writeStream.format("vcf")
      .option("path", out).option("compression", "bgzf")
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val parts = new java.io.File(out).listFiles.map(_.getName)
    assert(parts.exists(_.endsWith(".vcf.gz")), parts.mkString(","))
    assert(parts.exists(_.endsWith(".vcf.gz.tbi")),
      s"streaming bgzf commit must produce the sibling .tbi: ${parts.mkString(",")}")
    assert(spark.read.format("vcf").load(out).count() == 1000)
    val pruned = spark.read.format("vcf")
      .option("region", "chr2:10001-20000").load(out)
    assert(pruned.count() == 100) // pos 10100..20000 step 100
  }

  test("streaming fasta transcode to bgzf commits .fai + .gzi; region read seeks the stream's output") {
    val in = graft.TestTmp.dir("ssink_fagz_in").toString
    val out = graft.TestTmp.dir("ssink_fagz_out").toString
    val ckpt = graft.TestTmp.dir("ssink_fagz_ckpt").toString
    Files.writeString(Paths.get(in, "refs.fasta"),
      (0 until 300).map(i => s">r$i\n${"ACGTG" * 40}\n").mkString)
    val q = spark.readStream.format("fasta").load(in)
      .writeStream.format("fasta")
      .option("path", out).option("compression", "bgzf")
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val names = new java.io.File(out).listFiles.map(_.getName)
    assert(names.exists(_.endsWith(".fasta.gz")), names.mkString(","))
    assert(names.exists(_.endsWith(".fasta.gz.fai")), names.mkString(","))
    assert(names.exists(_.endsWith(".fasta.gz.gzi")), names.mkString(","))
    val gz = new java.io.File(out).listFiles
      .filter(_.getName.endsWith(".fasta.gz")).head.getAbsolutePath
    val sub = spark.read.format("fasta")
      .option("region", "r42:6-20").load(gz)
      .select("sequence").head.getString(0)
    assert(sub == ("ACGTG" * 40).substring(5, 20))
    assert(spark.read.format("fasta").load(out).count() == 300)
  }

  test("epoch replay is idempotent: a re-committed (epoch, partition) supersedes, not duplicates") {
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.unsafe.types.UTF8String
    val out = graft.TestTmp.dir("ssink_replay").toString
    val conf = new SerializableHadoopConf(
      spark.sparkContext.hadoopConfiguration)
    val sw = new GraftStreamingWrite(new TextSink(FastaFormatRef.fmt, "none"), out,
      FastaFormatRef.fmt.dataSchema, conf, "qidtest")
    val factory = sw.createStreamingWriterFactory(
      new org.apache.spark.sql.connector.write.PhysicalWriteInfo {
        override def numPartitions(): Int = 1
      })
    def row(id: String, seq: String) = InternalRow(
      UTF8String.fromString(id), null, UTF8String.fromString(seq))
    // first attempt of epoch 7
    val w1 = factory.createWriter(0, 100L, 7L)
    w1.write(row("first", "AAAA"))
    w1.commit()
    sw.commit(7L, Array())
    // the epoch replays (e.g. failure before the offset log committed)
    val w2 = factory.createWriter(0, 101L, 7L)
    w2.write(row("second", "CCCC"))
    w2.commit()
    sw.commit(7L, Array())
    val files = new java.io.File(out).listFiles
      .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".fasta"))
    assert(files.length == 1, files.map(_.getName).mkString(","))
    val back = spark.read.format("fasta").load(out).collect()
    assert(back.length == 1 && back.head.getString(0) == "second")
  }
}

/** Indirection so the spec compiles against the sealed-ish format object. */
private object FastaFormatRef {
  val fmt: WritableGraftFormat = graft.sources.formats.FastaFormat
}
