package graft.sources

import java.io.File
import java.security.MessageDigest

import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite
import graft.{SharedSpark, TestTmp}

/** Byte-for-byte goldens of every sink shape: one `coalesce(1)` part per
  * shape, with the SHA-256 of the data file and of each sibling index
  * pinned. A change to how sinks are wired must leave all of them equal;
  * a deliberate change to an encoder re-pins them here.
  *
  * Compressed outputs come from the JDK's zlib, so the digests hold for
  * one JDK build. CRAM's 20-byte file id (bytes 6-25) is taken from the
  * random part name and is zeroed before hashing.
  */
class SinkGoldenSpec extends AnyFunSuite with SharedSpark {

  private lazy val headerDir = TestTmp.dir("sink_golden_hdr")

  private def sha256(bytes: Array[Byte]): String =
    MessageDigest.getInstance("SHA-256").digest(bytes).map(b => f"$b%02x").mkString

  /** (file suffix after the part name, digest) of the one part in `dir`:
    * "" for the data file, ".tbi" etc. for its siblings.
    */
  private def digests(df: DataFrame, format: String, options: Map[String, String],
                      dataExt: String): Seq[(String, String)] = {
    val dir = TestTmp.dir(s"sink_golden_$format").toString + "/t"
    df.coalesce(1).write.format(format).mode("overwrite").options(options).save(dir)
    val files = new File(dir).listFiles()
      .filterNot(f => f.getName.startsWith("_") || f.getName.startsWith("."))
    val data = files.filter(_.getName.endsWith(dataExt))
    assert(data.length == 1, files.map(_.getName).toSeq)
    val name = data.head.getName
    files.toSeq.map { f =>
      val bytes = java.nio.file.Files.readAllBytes(f.toPath)
      if (format == "cram" && f.getName == name)
        java.util.Arrays.fill(bytes, 6, 26, 0.toByte)
      (f.getName.stripPrefix(name), sha256(bytes))
    }.sortBy(_._1)
  }

  private val N = 3000L

  private lazy val shapes: Seq[(String, () => Seq[(String, String)])] = Seq(
    "fasta" -> (() => digests(SinkRows.fasta(spark, N), "fasta", Map.empty, ".fasta")),
    "fasta gzip" -> (() => digests(SinkRows.fasta(spark, N), "fasta",
      Map("compression" -> "gzip"), ".fasta.gz")),
    "fasta bgzf" -> (() => digests(SinkRows.fasta(spark, N), "fasta",
      Map("compression" -> "bgzf"), ".fasta.gz")),
    "fastq gzip" -> (() => digests(SinkRows.fastq(spark, N), "fastq",
      Map("compression" -> "gzip"), ".fastq.gz")),
    "vcf bgzf" -> (() => digests(SinkRows.vcf(spark, N), "vcf",
      Map("compression" -> "bgzf"), ".vcf.gz")),
    "bam" -> (() => digests(SinkRows.sam(spark, N), "bam",
      Map("refs" -> SinkRows.SamRefs), ".bam")),
    "bcf" -> (() => digests(SinkRows.vcf(spark, N), "bcf",
      Map("headerFrom" -> SinkRows.vcfHeaderFile(headerDir)), ".bcf")),
    "cram" -> (() => digests(SinkRows.sam(spark, N), "cram",
      Map("refs" -> SinkRows.SamRefs, "containerRecords" -> "1000"), ".cram")),
    "bigwig" -> (() => digests(SinkRows.bigwig(spark, N), "bigwig_value",
      Map("zoomLevels" -> "100,1000"), ".bw")))

  private val pinned: Map[String, Seq[(String, String)]] = Map(
    "fasta" -> Seq(
      ("", "ab896693a9d49459cfb02b3f04f9896e2bfd4053245bd7bffea55b2d5fbdc4db"),
      (".fai", "dcd81f927bb5229264a804d7c42fd7ae7725e24a1660c3960c966d9e6c7e5fba")),
    "fasta gzip" -> Seq(
      ("", "f05c0d69afc3cdc41aea1eeda7ec0c9160e2922abf76a9690e71b534d994444f")),
    "fasta bgzf" -> Seq(
      ("", "841b51dce5f7cff3af47b4e20a2760f3f3f14f1fcaa8c8770d20a90c35064335"),
      (".fai", "dcd81f927bb5229264a804d7c42fd7ae7725e24a1660c3960c966d9e6c7e5fba"),
      (".gzi", "574ead5d4595667e41e9e1581c88bdbd32f7de0728e525e2afaa7dfc1b4cdf1a")),
    "fastq gzip" -> Seq(
      ("", "6fec5abf909e4a815160fb180d4f24e22287eed33d379b4866c171c8a4b6949b")),
    "vcf bgzf" -> Seq(
      ("", "941564fc053b57e0450a956ea4cca8dd1a73aae74aee09db0defd174fbcbe772"),
      (".tbi", "9c97189af5bfea387a9e064aaf5752318d9b01a0e5401f25ff70afee607ea892")),
    "bam" -> Seq(
      ("", "efd3dc414ce1b7112b420f5ad5cd1be22dfd75b422a7efa83c49bc10d9657054"),
      (".bai", "0ddfd95d85f7b2249b062fee45377e0665df6a0165e57cace0848912c35030d2")),
    "bcf" -> Seq(
      ("", "cd66e8cd62ef324b2dea693facd823f140a520a330aeab6efba43b30ef2b03cd"),
      (".csi", "85e74300deb5c180ce4f240b733e6d80ae85f1411a743499b8eae2169fe97cd0")),
    "cram" -> Seq(
      ("", "ec27707d20794042043f1bc25cae4a8d43ed4355b9e19afbaaf95828b11824ea"),
      (".crai", "d80f4713e04216bc31bcb2b63c4095f4927e816b0e5257b7595924e91fa237bd")),
    "bigwig" -> Seq(
      ("", "d264fc8c595a4b92d00cd41d354c628620c876c778076346ca3d55877a97a7a2")))

  test("every sink shape writes the pinned bytes") {
    val got = shapes.map { case (shape, run) => shape -> run() }
    val wrong = got.filterNot { case (shape, d) => pinned.get(shape).contains(d) }
    assert(wrong.isEmpty, "\n" + wrong.map { case (shape, d) =>
      s"""    "$shape" -> Seq(${d.map { case (s, h) => s"""("$s", "$h")""" }.mkString(", ")}),"""
    }.mkString("\n"))
  }
}
