package graft.sources

import java.io.File

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.{SharedSpark, TestTmp}

/** The commit protocol every graft sink shares, checked per sink on rows
  * built here (no fixture files): a failed task leaves nothing behind,
  * `append` keeps earlier parts with their sibling indexes and `overwrite`
  * replaces them, a task that received no row commits no file, and a
  * rejected option fails before `overwrite` deletes anything.
  */
class SinkLifecycleSpec extends AnyFunSuite with SharedSpark {

  private lazy val headerDir = TestTmp.dir("sink_life_hdr")
  private lazy val vcfHeader = SinkRows.vcfHeaderFile(headerDir)

  /** One sink shape: format, write options, good rows, rows whose task
    * fails after the part file was opened, and the part's extensions.
    */
  private case class Shape(format: String, options: Map[String, String],
                           good: () => DataFrame, bad: () => DataFrame,
                           ext: String, siblings: Seq[String])

  private val N = 40L

  /** Rows of `df` whose last row fails the task when evaluated. */
  private def failLast(df: DataFrame, column: String): DataFrame =
    df.withColumn(column, when(col("id_") === N - 1, raise_error(lit("boom")).cast(
      df.schema(column).dataType)).otherwise(col(column)))

  private def withId(df: DataFrame): DataFrame =
    df.withColumn("id_", monotonically_increasing_id())

  private lazy val shapes: Seq[Shape] = Seq(
    Shape("fasta", Map.empty,
      () => SinkRows.fasta(spark, N),
      () => failLast(withId(SinkRows.fasta(spark, N).coalesce(1)), "sequence").drop("id_"),
      ".fasta", Seq(".fai")),
    Shape("vcf", Map("compression" -> "bgzf"),
      () => SinkRows.vcf(spark, N),
      () => SinkRows.vcf(spark, N).orderBy(col("pos").desc),
      ".vcf.gz", Seq(".tbi")),
    Shape("bam", Map("refs" -> SinkRows.SamRefs),
      () => SinkRows.sam(spark, N),
      () => SinkRows.sam(spark, N).orderBy(col("start").desc),
      ".bam", Seq(".bai")),
    Shape("bcf", Map("headerFrom" -> vcfHeader),
      () => SinkRows.vcf(spark, N),
      () => SinkRows.vcf(spark, N).orderBy(col("pos").desc),
      ".bcf", Seq(".csi")),
    // CRAM accepts unsorted rows; a reference missing from the dictionary
    // fails the task instead
    Shape("cram", Map("refs" -> "chr0:5000000"),
      () => SinkRows.sam(spark, N).where(col("reference") === "chr0"),
      () => SinkRows.sam(spark, N),
      ".cram", Seq(".crai")),
    // overlapping intervals are refused when the part is laid out at commit
    Shape("bigwig_value", Map.empty,
      () => SinkRows.bigwig(spark, N),
      () => SinkRows.bigwig(spark, N).withColumn("end", col("end") + 1000),
      ".bw", Nil))

  private def save(df: DataFrame, s: Shape, mode: String, dir: String): Unit =
    df.write.format(s.format).mode(mode).options(s.options).save(dir)

  /** Names in `dir`, without the local file system's `.crc` checksums. */
  private def listing(dir: String): Seq[String] =
    Option(new File(dir).listFiles()).toSeq.flatten.map(_.getName)
      .filterNot(_.startsWith(".")).sorted

  private def parts(dir: String, s: Shape): Seq[String] =
    listing(dir).filter(_.endsWith(s.ext))

  private def count(dir: String, s: Shape): Long =
    spark.read.format(s.format).load(dir).count()

  private def messages(t: Throwable): String =
    Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
      .map(e => String.valueOf(e.getMessage)).mkString(" | ")

  test("a failed task leaves no part file, no sibling index and no _temporary") {
    shapes.foreach { s =>
      val dir = TestTmp.dir(s"sink_life_fail_${s.format}").toString + "/t"
      val e = intercept[Exception](save(s.bad().coalesce(1), s, "overwrite", dir))
      assert(listing(dir).isEmpty,
        s"${s.format}: failed write left ${listing(dir)} (${messages(e)})")
    }
  }

  test("append keeps earlier parts and their siblings; overwrite replaces them") {
    shapes.foreach { s =>
      val dir = TestTmp.dir(s"sink_life_mode_${s.format}").toString + "/t"
      val good = s.good().coalesce(1)
      val n = good.count()
      save(good, s, "overwrite", dir)
      val first = listing(dir)
      assert(parts(dir, s).size == 1, s"${s.format}: $first")
      s.siblings.foreach(x => assert(first.contains(parts(dir, s).head + x),
        s"${s.format}: no $x in $first"))
      assert(count(dir, s) == n)

      save(good, s, "append", dir)
      val appended = listing(dir)
      assert(first.forall(appended.contains), s"${s.format}: append dropped files")
      assert(parts(dir, s).size == 2 && appended.size == 2 * first.size,
        s"${s.format}: $appended")
      assert(count(dir, s) == 2 * n)

      save(good, s, "overwrite", dir)
      val replaced = listing(dir)
      assert(replaced.size == first.size && replaced.intersect(appended).isEmpty,
        s"${s.format}: overwrite kept $appended -> $replaced")
      assert(count(dir, s) == n)
      assert(!replaced.exists(_.startsWith("_")), s"${s.format}: $replaced")
    }
  }

  test("partitions that receive no row commit no file") {
    shapes.foreach { s =>
      val dir = TestTmp.dir(s"sink_life_empty_${s.format}").toString + "/t"
      val good = s.good().coalesce(1)
      val empty = spark.createDataFrame(
        spark.sparkContext.parallelize(Seq.empty[Row], 3), good.schema)
      val df = good.union(empty)
      assert(df.rdd.getNumPartitions == 4)
      save(df, s, "overwrite", dir)
      assert(parts(dir, s).size == 1, s"${s.format}: ${listing(dir)}")
      assert(count(dir, s) == good.count())
    }
  }

  test("a rejected option fails the write before overwrite truncates the target") {
    val s = shapes.head
    val dir = TestTmp.dir("sink_life_badopt").toString + "/t"
    save(s.good(), s, "overwrite", dir)
    val before = listing(dir)
    val e = intercept[Exception](
      s.good().write.format("fasta").mode("overwrite").option("compression", "lz4").save(dir))
    assert(messages(e).contains("unsupported write compression 'lz4'"), messages(e))
    assert(listing(dir) == before)
  }

  test("bam and cram take their dictionary from a sink-written bam via headerFrom") {
    val base = TestTmp.dir("sink_life_hdrfrom").toString
    val rows = SinkRows.sam(spark, N).coalesce(1)
    rows.write.format("bam").mode("overwrite").option("refs", SinkRows.SamRefs)
      .save(s"$base/src")
    val bam = new File(s"$base/src").listFiles().map(_.getPath)
      .find(_.endsWith(".bam")).get
    val (text, refs) = BamHeader.read(new org.apache.hadoop.fs.Path(bam),
      spark.sparkContext.hadoopConfiguration)
    assert(refs.toSeq == Seq(("chr0", 5000000), ("chr1", 5000000)))
    assert(text.startsWith("@HD\tVN:1.6\tSO:coordinate\n@SQ\tSN:chr0\tLN:5000000\n"), text)

    val key = Seq("reference", "start", "name").map(col)
    val want = spark.read.format("bam").load(s"$base/src").orderBy(key: _*).collect()
    for (fmt <- Seq("bam", "cram")) {
      rows.write.format(fmt).mode("overwrite").option("headerFrom", bam)
        .save(s"$base/$fmt")
      val got = spark.read.format(fmt).load(s"$base/$fmt").orderBy(key: _*).collect()
      assert(got.length == N && got.toSeq == want.toSeq, s"$fmt via headerFrom")
    }
  }
}
